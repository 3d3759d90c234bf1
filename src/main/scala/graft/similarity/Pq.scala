package graft.similarity

import graft.functions.{BroadcastCentroids, BroadcastPqResidualLuts}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ ANN: the [[Ivf]] coarse quantizer for candidate selection +
  * product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) for the per-pair distance.
  *
  * Why this is the 100 TB path beyond plain IVF: [[Ivf.topK]]'s
  * posting-list join ships every candidate's FULL vector (D doubles)
  * through the probe join. Here the corpus rides as m small codes —
  * packed into ONE `bigint` at the standard m ≤ 8 / ksub ≤ 256
  * geometry, `array<int>` beyond it — so a D=64-float vector becomes
  * an 8-byte column. Measured on the posting exchange at sf100
  * (BENCH_pq_bytes_r16.json, BENCH_pq_packed_r16.json): 312 B/row
  * (IVF, full vector) → 80 B/row (array codes) → 32 B/row (packed) —
  * and the per-pair distance is m LUT reads instead of D multiplies
  * (the asymmetric-distance computation, ADC). The LUTs are computed
  * ONCE per probe and per probed cell on the driver and broadcast
  * ([[graft.functions.BroadcastPqResidualLuts]]) so they never ride
  * join rows.
  *
  * Cosine ordering: all vectors are L2-normalized first, so ascending
  * squared-L2 ADC order equals descending cosine order (‖a−b‖² =
  * 2 − 2·cos on the unit sphere). Deterministic end to end: the
  * per-subspace Lloyd trainer inherits [[Ivf.train]]'s hash-ordered
  * init and fixed iteration count.
  *
  * The codes quantize the residual x − centroid(cell) (IVFADC,
  * TPAMI '11 §IV); which ANN row to use when is SURVEY §2 row 55d
  * (the measured chooser).
  *
  * Reference scope: the reference library has no ANN at all (its
  * nearest lookup is df-index-of over a sorted series); this operator
  * is part of the training-data-pipeline extension surface, same
  * family as rows 45/46/55. */
object Pq {

  /** L2-normalize an array<float|double> column to unit length.
    * Zero-norm vectors are dropped by [[Cosine.withNorm]] (the same
    * guard every cosine operator applies — cosine is undefined on
    * them). */
  private[similarity] def normalized(df: DataFrame, vecCol: String): DataFrame =
    Cosine.withNorm(df, vecCol) // adds __vd (double) + __nrm, drops zero-norm rows
      .withColumn("__vn", transform(col("__vd"), x => x / col("__nrm")))
      .drop("__vd", "__nrm")

  /** Train the COARSE quantizer for the PQ path: [[Ivf.train]] over
    * the NORMALIZED vectors, so the centroid matrix lives in the same
    * space [[topK]] assigns cells in (`__vn`). [[Ivf.train]] alone
    * fits raw vectors — self-consistent with [[Ivf.topK]]'s raw-space
    * assignment, and identical to this on unit-norm input, but on
    * non-unit-norm input a raw-space matrix would partition the
    * corpus differently under [[topK]]'s normalized assignment and
    * unbalance the cells. `maxTrainRows` as in [[Ivf.train]]. */
  def trainCoarse(df: DataFrame, idCol: String, vecCol: String, k: Int,
                  iters: Int = 5, maxTrainRows: Long = 0L): Array[Array[Double]] = {
    // count the RAW frame for the sample ratio (metadata-only on a
    // parquet scan) — counting the normalized projection would pay a
    // full per-row-norm pass per training call (r16 ADVICE). The raw
    // count over-counts by the (rare) zero-norm rows the projection
    // drops, which only shrinks the sample — training needs coverage,
    // not an exact count.
    val total = if (maxTrainRows > 0) df.count() else -1L
    Ivf.train(normalized(df, vecCol).select(col(idCol), col("__vn")),
      idCol, "__vn", k = k, iters = iters, maxTrainRows = maxTrainRows,
      totalRows = total)
  }

  /** Train m per-subspace codebooks of ksub centroids each over the
    * RESIDUALS x − centroid(cell) of the NORMALIZED vectors, cells
    * assigned by `coarse` (from [[trainCoarse]]) — the IVFADC encoding
    * (Jégou et al. TPAMI '11 §IV) [[topK]] searches with. dim must
    * divide evenly into m subspaces. Returns codebooks(j)(c) =
    * centroid c of subspace j (length dim/m). `maxTrainRows > 0`
    * trains on a deterministic hash sample (one sample shared by all m
    * subspaces — the 100 TB path; see [[Ivf.trainSample]]) while
    * encode/search read the full corpus.
    *
    * Why residuals: codebooks over the raw vector spend most of their
    * 8 bytes re-describing WHICH coarse cell the vector sits in —
    * information the posting list already encodes. Residuals are the
    * small within-cell displacement, so the same m·ksub geometry
    * spends its entropy on the signal that separates neighbors inside
    * a probed cell. Measured, raw-vector codebooks recall at or below
    * residual ones at every point (BENCH_pq_recall_r17.json,
    * BENCH_ann_structured_r18.json). */
  def trainCodebooks(df: DataFrame, idCol: String, vecCol: String,
                     coarse: Array[Array[Double]],
                     m: Int, ksub: Int, iters: Int = 4,
                     maxTrainRows: Long = 0L): Array[Array[Array[Double]]] = {
    val dim = coarse.head.length
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    require(maxTrainRows <= 0 || maxTrainRows >= 10L * ksub,
      s"maxTrainRows=$maxTrainRows must comfortably exceed ksub=$ksub (>= ${10L * ksub}) " +
        "so binomial sample jitter cannot leave a codebook short of centroids")
    val sub = dim / m
    val total = if (maxTrainRows > 0) df.count() else -1L // raw count — see trainCoarse
    val bc = BroadcastCentroids(df.sparkSession, coarse)
    val base = Ivf.trainSample(normalized(df, vecCol), idCol, maxTrainRows, total)
      .withColumn("__cid", bc.nearestOne(col("__vn")))
      .select(col(idCol), bc.residual(col("__vn"), col("__cid")).as("__rv"))
      .cache()
    try trainSubspacesJoint(base, idCol, "__rv", m, sub, ksub, iters)
    finally base.unpersist()
  }

  /** Joint Lloyd trainer for all m subspaces — the SAME per-subspace
    * math the previous `Array.tabulate(m)(j => Ivf.train(slice_j))`
    * loop ran, fused so the m subproblems share each Spark job instead
    * of each paying its own:
    *   - init: ONE hash-ordered collect of the first ksub sample rows,
    *     sliced per subspace on the driver (each per-subspace train
    *     read exactly those rows for its init — same ids, same order);
    *   - per Lloyd iteration: ONE aggregation job that explodes each
    *     sample row into its m (subspace, cell, sliced-vector) entries
    *     and averages per (subspace, cell, component) — the identical
    *     group means the per-subspace jobs computed, m at a time. A
    *     cell with no assigned rows keeps its previous centroid, as in
    *     [[Ivf.train]].
    * Why: the serial loop cost m·(1 + iters) driver round-trips per
    * training call (m=8, iters=3 ⇒ 32 collect jobs over a ≤20k-row
    * cached sample — at bench scale the PQ queries' walls were mostly
    * this scheduling, and on a cluster they are m serial barriers);
    * fused it is 1 + iters jobs at identical output (guide §1.2:
    * remove passes before tuning anything else — the m passes per
    * iteration carried no information the fused pass doesn't). */
  private def trainSubspacesJoint(base: DataFrame, idCol: String, srcCol: String,
                                  m: Int, sub: Int, ksub: Int,
                                  iters: Int): Array[Array[Array[Double]]] = {
    val spark = base.sparkSession
    val initRows = base.orderBy(xxhash64(col(idCol))).limit(ksub)
      .select(col(srcCol)).collect().map(_.getSeq[Double](0).toArray)
    require(initRows.length == ksub,
      s"training input has only ${initRows.length} rows < k=$ksub")
    var cents: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => initRows.map(v => v.slice(j * sub, (j + 1) * sub)))
    for (_ <- 1 to iters) {
      val kernels = cents.map(cb => BroadcastCentroids(spark, cb))
      val entries = (0 until m).map { j =>
        val s = slice(col(srcCol), j * sub + 1, sub)
        struct(lit(j).as("j"), kernels(j).nearestOne(s).as("cid"), s.as("v"))
      }
      val sums = base.select(explode(array(entries: _*)).as("e"))
        .select(col("e.j").as("__j"), col("e.cid").as("__cid"),
          posexplode(col("e.v")).as(Seq("__i", "__x")))
        .groupBy("__j", "__cid", "__i").agg(avg("__x").as("__mv"))
        .collect()
      kernels.foreach(_.destroy())
      val next = cents.map(_.map(_.clone()))
      sums.foreach(r => next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3))
      cents = next
    }
    cents
  }

  /** Encode the `srcCol` vectors to m codebook ids (one argmin per
    * subspace — m broadcast-kernel plan nodes, no joins). When the
    * codes fit (m ≤ 8, ksub ≤ 256 — the standard PQ config and
    * everything below it), they pack into ONE `bigint` column
    * (code_j in byte j): a fixed-width 8-byte payload instead of an
    * `array<int>` whose UnsafeArrayData header + 4-byte slots made up
    * most of the candidate row (measured 80 → 32 B/row raw, 32.8 → 15.6
    * compressed, on the posting exchange — BENCH_pq_packed_r16.json). Falls back to
    * array<int> for larger geometries. */
  private def encodeCol(df: DataFrame, codebooks: Array[Array[Array[Double]]],
                        srcCol: String): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val spark = df.sparkSession
    val kernels = codebooks.map(cb => BroadcastCentroids(spark, cb))
    def code(j: Int) = kernels(j).nearestOne(slice(col(srcCol), j * sub + 1, sub))
    val codes =
      if (m <= 8 && codebooks.forall(_.length <= 256))
        (0 until m).map(j => shiftleft(code(j).cast("long"), j * 8)).reduce(_.bitwiseOR(_))
      else array((0 until m).map(code): _*)
    df.withColumn("__codes", codes)
  }

  /** IVFADC top-k: coarse posting lists select candidates (nprobe
    * lists per probe), residual ADC scores them. `coarse` must be
    * trained in the NORMALIZED space (use [[trainCoarse]]) and
    * `codebooks` by [[trainCodebooks]] against the same matrix.
    * Candidates ride as one packed `bigint` (or `array<int>`) through
    * the posting-list join; the ADC table depends on the probed cell
    * as well as the probe, so it is broadcast in decomposed form
    * (per-probe + per-probed-cell + scalar bias — see
    * [[graft.functions.BroadcastPqResidualLuts]] for the algebra and
    * why the naive per-(probe, cell) table is NOT broadcast-bounded).
    * The probe side's nprobe cell selection and all LUTs are computed
    * on the driver from the bounded probe slice (the same convention
    * as the bounded exact baselines). Output: (probe_id, rank,
    * neighbor_id, adc) — adc ascending = cosine descending on the
    * normalized vectors. */
  def topK(corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
           k: Int, coarse: Array[Array[Double]],
           codebooks: Array[Array[Array[Double]]], nprobe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    val m = codebooks.length
    val ksub = codebooks.head.length
    val sub = codebooks.head.head.length
    val dim = m * sub
    require(coarse.head.length == dim,
      s"coarse dim ${coarse.head.length} != codebook dim $dim")
    val kc = coarse.length
    val np = math.min(nprobe, kc)
    val bcCoarse = BroadcastCentroids(spark, coarse)

    // corpus: one codegen'd pass — coarse cell, residual, m code argmins
    val c = encodeCol(
      normalized(corpus, vecCol)
        .withColumn("__cid", bcCoarse.nearestOne(col("__vn")))
        .withColumn("__rv", bcCoarse.residual(col("__vn"), col("__cid"))),
      codebooks, srcCol = "__rv")
      .select(col("__cid"), col(idCol).as("neighbor_id"), col("__codes"))

    // driver side (bounded probe slice): per-probe nprobe nearest
    // cells + the decomposed ADC tables
    val probeRows = normalized(probes, vecCol)
      .select(col(idCol).cast("long").as("__pid"), col("__vn")).collect()
    val cNorms = coarse.map { cv =>
      var s = 0.0; var i = 0
      while (i < cv.length) { s += cv(i) * cv(i); i += 1 }
      s
    }
    val probeLuts = Array.newBuilder[Array[Double]]
    // (probe, probe ordinal, cell, bias) — the bias scalar ‖C‖² − 2·q·C
    // rides this tiny driver-built frame as a COLUMN (one double per
    // probed pair) instead of a broadcast tuple-keyed map, and the
    // probe ORDINAL rides it too so the kernel's per-probe LUT read is
    // a dense array index, not a boxed Map[Long,_] lookup. Both are
    // kept on the structural argument (strictly fewer per-row
    // allocations, one less broadcast); the r17 A-B on the bias
    // refactor was inconclusive in a 2–3× probe-swing session
    // (BENCH_pq_recall_r17.json bias_column_ab) — NO perf claim.
    val pairs = Seq.newBuilder[(Long, Int, Int, Double)]
    val probedCells = scala.collection.mutable.BitSet.empty
    probeRows.zipWithIndex.foreach { case (r, pord) =>
      val pid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      require(q.length == dim, s"probe vector has ${q.length} dims, index expects $dim")
      // nprobe nearest cells, ties to the lower id (the corpus-side
      // NearestCentroids rule); score = ‖C‖² − 2·q·C, which IS the
      // residual bias term — computed once, used twice
      val bestD = Array.fill(np)(Double.PositiveInfinity)
      val bestC = Array.fill(np)(Int.MaxValue)
      var cc = 0
      while (cc < kc) {
        val cv = coarse(cc)
        var dot = 0.0; var i = 0
        while (i < dim) { dot += q(i) * cv(i); i += 1 }
        val d = cNorms(cc) - 2.0 * dot
        if (d < bestD(np - 1) || (d == bestD(np - 1) && cc < bestC(np - 1))) {
          var j = np - 1
          while (j > 0 && (d < bestD(j - 1) || (d == bestD(j - 1) && cc < bestC(j - 1)))) {
            bestD(j) = bestD(j - 1); bestC(j) = bestC(j - 1); j -= 1
          }
          bestD(j) = d; bestC(j) = cc
        }
        cc += 1
      }
      // per-probe table A[j·ksub + c] = ‖q_j − cb_j[c]‖²
      val a = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var c2 = 0
        while (c2 < ksub) {
          val cent = codebooks(j)(c2)
          var s = 0.0; var i = 0
          while (i < sub) { val d = q(j * sub + i) - cent(i); s += d * d; i += 1 }
          a(j * ksub + c2) = s
          c2 += 1
        }
        j += 1
      }
      probeLuts += a
      var pi = 0
      while (pi < np) {
        pairs += ((pid, pord, bestC(pi), bestD(pi)))
        probedCells += bestC(pi)
        pi += 1
      }
    }
    // per-cell table D[j·ksub + c] = 2·C_j·cb_j[c], PROBED cells only
    // (null elsewhere — the kernel fails loudly on an unprobed cell)
    val cellLuts = new Array[Array[Double]](kc)
    probedCells.foreach { cid =>
      val cv = coarse(cid)
      val d = new Array[Double](m * ksub)
      var j = 0
      while (j < m) {
        var c2 = 0
        while (c2 < ksub) {
          val cent = codebooks(j)(c2)
          var s = 0.0; var i = 0
          while (i < sub) { s += cv(j * sub + i) * cent(i); i += 1 }
          d(j * ksub + c2) = 2.0 * s
          c2 += 1
        }
        j += 1
      }
      cellLuts(cid) = d
    }
    val bcLuts = BroadcastPqResidualLuts(
      spark.sparkContext.broadcast(probeLuts.result()),
      spark.sparkContext.broadcast(cellLuts), m, ksub)

    import spark.implicits._
    val p0 = pairs.result().toDF("probe_id", "__pord", "__cid", "__bias")
    // posting join: SHUFFLE, don't broadcast. The driver-built pairs
    // frame is a LocalRelation whose tiny stats make Catalyst pick a
    // BuildLeft BroadcastHashJoin — which FUSES the entire candidate
    // score + sort + partial-top-k pipeline into the corpus SCAN
    // stage, concentrating all per-candidate work at input-split
    // parallelism. Measured (BENCH_pq_posting_join_r18.json, 200k
    // vectors, nprobe=256, same session, interleaved fresh plans):
    // broadcast-fused 38-45 s vs shuffled 10.8-10.9 s (3.5x), parity
    // at nprobe=32.
    // The exchange this buys back is the ENCODED corpus (cell id +
    // packed 8-byte codes — the wire-frugal posting exchange the PQ
    // design is built around), not the raw vectors.
    val p = p0.hint("merge")
    val w = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("neighbor_id"))
    p.join(c, Seq("__cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("adc",
        bcLuts.adc(col("__pord"), col("__cid"), col("__codes")) + col("__bias"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), round(col("adc"), 6).as("adc"))
  }

  /** IVFADC with exact re-ranking (the production search mode):
    * [[topK]] prunes the corpus to `kCand` candidates per probe, then
    * the survivors' FULL vectors are fetched and exactly re-scored,
    * and the true-cosine top-k is returned.
    *
    * Why this exists: at production parameters (kc=1024, m=8,
    * ksub=256 on the 64-dim embeddings; BENCH_pq_recall_r17.json) ADC
    * recall@10 saturates near 0.2, because the 8-byte code's
    * quantization error exceeds the margins between true top-10
    * neighbors. Re-ranking reaches the plain-IVF ceiling at the same
    * nprobe (kCand=300·k–1000·k: 0.868–0.871 vs 0.871 at 200k vectors;
    * kCand is the recall/cost dial) while keeping PQ's scale shape:
    * the heavy pass over the posting lists still reads only the
    * codes; full vectors are touched for just |probes|·kCand rows,
    * fetched by an equi-join in which the candidate set (the small
    * side) broadcasts — the corpus is neither shuffled nor re-scanned
    * wholesale. Output schema matches [[Ivf.topK]]: (probe_id, rank,
    * neighbor_id, cos). */
  def topKRefined(corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
                  k: Int, coarse: Array[Array[Double]],
                  codebooks: Array[Array[Array[Double]]], nprobe: Int = 2,
                  kCand: Int = 0): DataFrame = {
    val kc = if (kCand > 0) kCand else 10 * k
    require(kc >= k, s"kCand=$kc must be >= k=$k")
    refine(corpus, probes, idCol, vecCol, k, kc,
      topK(corpus, probes, idCol, vecCol, kc, coarse, codebooks, nprobe))
  }

  /** Candidate rows [[refine]]'s broadcast-pinned fetch admits. */
  private val RefineBroadcastMaxRows = 32L * 1000 * 1000

  /** Exact re-ranking for [[topKRefined]]: fetch the
    * candidates' full vectors with an equi-join and return the true
    * cosine top-k. The candidate set is bounded at |probes|·kCand rows
    * BY CONSTRUCTION, but it reaches this join as a window-aggregate
    * output whose size the optimizer estimates poorly — so the
    * broadcast is PINNED with an explicit hint on both bounded sides
    * (candidates and probes). Without the hint, one bad AQE estimate
    * would demote the fetch to a shuffle of the full-vector corpus —
    * precisely the exchange the PQ design exists to avoid — while
    * results stayed correct and nobody noticed (r16 verdict watch
    * item 1). PlanAuditSpec pins the BroadcastHashJoin shape.
    *
    * The pin removes the optimizer's size-based fallback, so the
    * over-budget case must fail LOUDLY here instead of as a generic
    * broadcast OOM (r17 verdict watch item 1): kCand is the
    * recall/cost dial and its measured knee GROWS with corpus size
    * (300·k at 200k vectors → 1000·k at 2M —
    * BENCH_pq_recall_r17.json), so a user chasing recall on a big
    * corpus can push \|probes\|·kCand past what a pinned broadcast
    * survives. The guard's arithmetic: a candidate row broadcasts as
    * ~48 B in the hashed relation (two longs + UnsafeRow + map
    * overhead), so the cap of 32M rows is ~1.5 GB — far under the
    * 8 GB broadcast hard limit and a small fraction of the 48 GB
    * driver this project sizes for, but big enough for the measured
    * sf100 knee shape (100 probes × kCand = 10,000 = 1M rows) forty
    * times over. A larger request splits its probe slice into
    * batches. */
  private def refine(corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
                     k: Int, kCand: Int, cand: DataFrame): DataFrame = {
    // the probe slice is bounded by design (its LUTs are driver-built),
    // so this count is a tiny job at plan build — the same convention
    // as the driver-side probe collect
    val nProbes = probes.count()
    val candRows = nProbes * kCand
    require(candRows <= RefineBroadcastMaxRows,
      s"refine: |probes|=$nProbes x kCand=$kCand = $candRows candidate rows exceeds " +
        s"the $RefineBroadcastMaxRows-row bound of the broadcast-pinned fetch - " +
        "lower kCand or split the probe slice into batches")
    val cn = Cosine.withNorm(corpus, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__vd").as("v2"), col("__nrm").as("n2"))
    val pn = Cosine.withNorm(probes, vecCol)
      .select(col(idCol).cast("long").as("probe_id"), col("__vd").as("v1"), col("__nrm").as("n1"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(cand.select(col("probe_id"), col("neighbor_id")))
      .join(cn, Seq("neighbor_id"))
      .join(broadcast(pn), Seq("probe_id"))
      .withColumn("cos", Cosine.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos"))
  }
}
