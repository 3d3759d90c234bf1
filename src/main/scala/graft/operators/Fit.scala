package graft.operators

import graft.functions.Params
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Least-squares fitting — mirrors
  * /root/reference/private/least-squares-fit.rkt (df-least-squares-fit
  * l.297) and slr.rkt (simple linear regression).
  *
  * linear:      y = a + b·x           (regr_* aggregates)
  * polynomial:  y = Σ cᵢ·xⁱ          (normal equations: distributed
  *                                     power-sums, tiny dense solve on
  *                                     the driver — O(deg²) numbers move)
  * power:       y = a·x^b            (SLR on ln x, ln y)
  * exponential: y = a·e^(b·x)        (SLR on x, ln y)
  * logarithmic: y = a + b·ln x       (SLR on ln x, y)
  *
  * All shapes reduce to ONE distributed aggregation; nothing per-row
  * ever reaches the driver, so they hold at 100 TB. The reference's
  * simulated-annealing refinement is in graft.operators.Annealing.
  */
object Fit {

  /** SLR with residuals: slope, intercept, r2, rmse (one pass + one
    * residual pass). */
  def linear(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val p = df.agg(
      expr(s"regr_slope($yCol, $xCol)").as("__b"),
      expr(s"regr_intercept($yCol, $xCol)").as("__a"),
      expr(s"regr_r2($yCol, $xCol)").as("__r2"))
    val row = p.first()
    if (row.isNullAt(0) || row.isNullAt(1)) {
      // degenerate series (n < 2 or zero x-variance): undefined fit
      val spark = df.sparkSession
      return spark.range(1).select(lit(1).as("id"),
        lit(null).cast("double").as("slope"), lit(null).cast("double").as("intercept"),
        lit(null).cast("double").as("r2"), lit(null).cast("double").as("rmse"))
    }
    // by reference, not as inlined literals: one compiled class for every fit
    val fit = Params.of(row.getDouble(1), row.getDouble(0), row.getDouble(2))
    df.agg(sqrt(avg(pow(col(yCol) - (fit(0) + fit(1) * col(xCol)), 2))).as("__rmse"))
      .select(lit(1).as("id"),
        round(fit(1), 4).as("slope"), round(fit(0), 4).as("intercept"),
        round(fit(2), 4).as("r2"), round(col("__rmse"), 4).as("rmse"))
  }

  /** Polynomial fit by normal equations. Output: (degree, coef) rows,
    * coef i multiplies x^i. */
  def polynomial(df: DataFrame, xCol: String, yCol: String, degree: Int): DataFrame = {
    val n = degree + 1
    // Power sums S_k = Σ x^k for k=0..2·degree and T_k = Σ x^k·y.
    val sums = (0 to 2 * degree).map(k => sum(pow(col(xCol), k)).as(s"s$k")) ++
      (0 to degree).map(k => sum(pow(col(xCol), k) * col(yCol)).as(s"t$k"))
    val row = df.agg(sums.head, sums.tail: _*).first()
    // degenerate input (empty / fewer points than coefficients): typed
    // null-coefficient rows, mirroring linear()'s guard
    if (row.isNullAt(0) || row.getDouble(0) < n) {
      val spark = df.sparkSession
      import spark.implicits._
      return (0 to degree).map(d => (d, Option.empty[Double])).toDF("degree", "coef")
    }
    val s = (0 to 2 * degree).map(k => row.getDouble(k)).toArray
    val t = (0 to degree).map(k => row.getDouble(2 * degree + 1 + k)).toArray
    // Solve (A c = t) where A[i][j] = S_{i+j}; tiny Gaussian elimination.
    val a = Array.tabulate(n, n)((i, j) => s(i + j))
    val c = solve(a, t)
    val spark = df.sparkSession
    import spark.implicits._
    c.zipWithIndex.map { case (v, i) => (i, v) }.toSeq.toDF("degree", "coef")
  }

  /** Gaussian elimination with partial pivoting (n <= ~8). */
  private[graft] def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = a.map(_.clone())
    val y = b.clone()
    for (k <- 0 until n) {
      val piv = (k until n).maxBy(i => math.abs(m(i)(k)))
      val tmp = m(k); m(k) = m(piv); m(piv) = tmp
      val tb = y(k); y(k) = y(piv); y(piv) = tb
      for (i <- k + 1 until n) {
        val f = m(i)(k) / m(k)(k)
        for (j <- k until n) m(i)(j) -= f * m(k)(j)
        y(i) -= f * y(k)
      }
    }
    val x = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var acc = y(i)
      for (j <- i + 1 until n) acc -= m(i)(j) * x(j)
      x(i) = acc / m(i)(i)
    }
    x
  }

  /** y = a·x^b — SLR in log-log space (x>0, y>0 rows only). */
  def power(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = df.filter(col(xCol) > 0 && col(yCol) > 0)
    d.agg(
      round(exp(expr(s"regr_intercept(ln($yCol), ln($xCol))")), 4).as("a"),
      round(expr(s"regr_slope(ln($yCol), ln($xCol))"), 4).as("b"))
  }

  /** y = a·e^(b·x) — SLR on (x, ln y). */
  def exponential(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = df.filter(col(yCol) > 0)
    d.agg(
      round(exp(expr(s"regr_intercept(ln($yCol), $xCol)")), 4).as("a"),
      round(expr(s"regr_slope(ln($yCol), $xCol)"), 4).as("b"))
  }

  /** y = a + b·ln x — SLR on (ln x, y). */
  def logarithmic(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val d = df.filter(col(xCol) > 0)
    d.agg(
      round(expr(s"regr_intercept($yCol, ln($xCol))"), 4).as("a"),
      round(expr(s"regr_slope($yCol, ln($xCol))"), 4).as("b"))
  }

  /** Annealing-refined exponential fit y = a·e^(b·x), minimizing TRUE
    * sum-of-squares in y space — the reference's `#:annealing? #t`
    * refinement (least-squares-fit.rkt:126-146: neighbour scales each
    * coefficient by (1 + temp·U(−1,1)), goal = calculate-residual; its
    * docs note the log-transform fit "is not very good" because SLR on
    * ln y over-weights small y). Re-derived for the distributed
    * setting: the log-transform SLR seeds the search, each annealing
    * step is ONE aggregation over the cached (x, y) projection, and
    * only the exponent b walks — for fixed b the optimal scale
    * a = Σ y·e^(bx) / Σ e^(2bx) is closed-form, so every step
    * evaluates the best point of its a-ray (dominates a random walk
    * over (a, b) at the same iteration count). Output: a, b, sse_seed
    * (the log-transform fit's y-space SSE), sse (≤ sse_seed by
    * construction: the seed's b is in the search set with optimal a). */
  def exponentialAnnealed(df: DataFrame, xCol: String, yCol: String,
                          iterations: Int = 60, seed: Long = 42L): DataFrame = {
    val d = df.filter(col(yCol) > 0)
    val init = d.agg(
      expr(s"regr_intercept(ln($yCol), $xCol)"),
      expr(s"regr_slope(ln($yCol), $xCol)")).first()
    // empty / single-row / zero-variance input: SLR aggregates are null —
    // fall back to the flat seed (a=1, b=0) instead of an executor NPE
    val (a0, b0) = if (init.isNullAt(0) || init.isNullAt(1)) (1.0, 0.0)
                   else (math.exp(init.getDouble(0)), init.getDouble(1))
    annealedScale(d, col(xCol), yCol, a0, b0, iterations, seed)
  }

  /** Annealing-refined power-law fit y = a·x^b (reference
    * find-better-power-law-coefficients, least-squares-fit.rkt:204-221)
    * — same profile-annealing scheme as [[exponentialAnnealed]] with
    * basis x^b, seeded by the log-log SLR. */
  def powerAnnealed(df: DataFrame, xCol: String, yCol: String,
                    iterations: Int = 60, seed: Long = 42L): DataFrame = {
    val d = df.filter(col(xCol) > 0 && col(yCol) > 0)
    val init = d.agg(
      expr(s"regr_intercept(ln($yCol), ln($xCol))"),
      expr(s"regr_slope(ln($yCol), ln($xCol))")).first()
    val (a0, b0) = if (init.isNullAt(0) || init.isNullAt(1)) (1.0, 0.0)
                   else (math.exp(init.getDouble(0)), init.getDouble(1))
    annealedScale(d, log(col(xCol)), yCol, a0, b0, iterations, seed)
  }

  /** Shared profile-annealing loop for the log-linear families
    * y ≈ a·e^(b·t) (exponential: t = x; power law: t = ln x — both
    * bases are exp-affine in b, which is what makes one code path
    * serve both): anneal b (multiplicative neighbour, reference
    * annealing.rkt schedule) with
    * goal(b) = min over a of Σ(y − a·e^(b·t))² = Σy² − (Σy·e^(b·t))²/Σe^(2b·t).
    * Distributed-right batching: a sequential anneal would cost one
    * Spark job per candidate, so each ROUND proposes a population of
    * `pop` temperature-scaled neighbours and evaluates all of them in
    * ONE aggregation over the cached (t, y) projection — same
    * Metropolis accept/cooling semantics applied to the round's best
    * candidate, ~pop× fewer cluster passes for the same number of goal
    * evaluations. Per row and candidate the kernel is a single exp():
    * t is precomputed in the cache (no per-candidate ln/pow — pow(x,b)
    * costs several× exp and was the whole-suite's hottest scalar) and
    * the squared basis reuses it as e·e. Driver sees only scalars.
    * Every job binds its numbers (seed, candidates) through one
    * [[Params]] array, so the two job shapes (seed, round) compile once
    * per JVM, not once per round and call. */
  private def annealedScale(d0: DataFrame, tExpr: org.apache.spark.sql.Column, yCol: String,
      a0: Double, b0: Double, iterations: Int, seed: Long): DataFrame = {
    val spark = d0.sparkSession
    val d = d0.select(tExpr.cast("double").as("t"), col(yCol).cast("double").as("y")).cache()
    try {
      val rng = new scala.util.Random(seed)
      val pop = 8
      val rounds = math.max(1, math.ceil(iterations.toDouble / pop).toInt)
      // (sse with its optimal a, that a) per candidate from the sums
      // Σy·f and Σf·f; an exploding/degenerate basis poisons its
      // candidate so it loses to every finite one
      def costs(r: org.apache.spark.sql.Row, syy: Double, from: Int, n: Int): Seq[(Double, Double)] =
        (0 until n).map { j =>
          val (si, fi) = (from + 2 * j, from + 2 * j + 1)
          if (r.isNullAt(si) || r.isNullAt(fi) || !r.getDouble(fi).isFinite ||
              !r.getDouble(si).isFinite || r.getDouble(fi) <= 0) (Double.MaxValue, 0.0)
          else {
            val a = r.getDouble(si) / r.getDouble(fi)
            (math.max(0.0, syy - a * r.getDouble(si)), a)
          }
        }
      def basisSums(p: org.apache.spark.sql.Column, j: Int): Seq[org.apache.spark.sql.Column] = {
        val e = exp(p(j) * col("t")) // codegen CSE shares the one exp() across both sums
        Seq(sum(col("y") * e).as(s"__syf$j"), sum(e * e).as(s"__sff$j"))
      }
      // seed job: Σy², the seed's own sums and its y-space SSE at a0
      val ps = Params.of(b0, a0)
      val seedRow = d.agg(sum(pow(col("y"), 2)),
        basisSums(ps, 0) :+ sum(pow(col("y") - ps(1) * exp(ps(0) * col("t")), 2)): _*).first()
      if (seedRow.isNullAt(0)) { // empty input: undefined fit, typed nulls
        import spark.implicits._
        return Seq((Option.empty[Double], Option.empty[Double],
          Option.empty[Double], Option.empty[Double],
          Option.empty[Double], Option.empty[Double]))
          .toDF("a", "b", "sse_seed", "sse", "a_seed", "b_seed")
      }
      val syy = seedRow.getDouble(0)
      val sseSeed = seedRow.getDouble(3)
      // a round's `pop` candidates in one job
      def evalAll(bs: Seq[Double]): Seq[(Double, Double)] = {
        val p = Params.of(bs: _*)
        val aggs = bs.indices.flatMap(basisSums(p, _))
        costs(d.agg(aggs.head, aggs.tail: _*).first(), syy, 0, bs.size)
      }
      var (currentCost, currentA) = costs(seedRow, syy, 1, 1).head
      var current = b0
      var (best, bestCost, bestA) = (b0, currentCost, currentA)
      for (k <- 1 to rounds) {
        val t = math.max(1e-9, 1.0 - k.toDouble / rounds)
        val cands = Seq.fill(pop)(current * (1 + t * (2 * rng.nextDouble() - 1)))
        val evals = evalAll(cands)
        val j = evals.indices.minBy(evals(_)._1)
        val (candCost, candA) = evals(j)
        // Metropolis exponent normalized by candidate cost (the
        // reference's default-transition divides by ncost·temperature) —
        // raw SSE-scale deltas would drive uphill acceptance to 0 and
        // degenerate the walk into greedy best-of-population
        val accept = candCost <= currentCost ||
          rng.nextDouble() < math.exp((currentCost - candCost) / (math.max(candCost, Double.MinPositiveValue) * t))
        if (accept) { current = cands(j); currentCost = candCost; currentA = candA }
        if (candCost < bestCost) { best = cands(j); bestCost = candCost; bestA = candA }
      }
      import spark.implicits._
      // a_seed/b_seed: the closed-form SLR seed params ride along so a
      // cross-engine oracle can verify the deterministic part of the
      // fit (the annealed walk is seeded-RNG engine-specific; its
      // contract is sse <= sse_seed)
      Seq((math.rint(bestA * 10000) / 10000, math.rint(best * 10000) / 10000,
        math.rint(sseSeed * 10000) / 10000, math.rint(bestCost * 10000) / 10000,
        a0, b0))
        .toDF("a", "b", "sse_seed", "sse", "a_seed", "b_seed")
    } finally d.unpersist() // returned frame is a local Seq — safe to drop now
  }
}
