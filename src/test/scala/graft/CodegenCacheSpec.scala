package graft

import graft.operators.Fit
import org.scalatest.funsuite.AnyFunSuite

/** graft's generated code is compiled once per session: Spark's
  * compiled-class cache, sized by `GraftSession`, holds a query's
  * classes for its next run, and per-call numbers (annealing candidates,
  * fit coefficients) reach the generated code by reference, so a call
  * with new values reuses the classes of the last one. */
class CodegenCacheSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** The `frame_ops` workload of the benchmark. */
  private val frameOps = Seq("q_select_filter", "q_lookup_join", "q_group_agg", "q_sql_q3",
    "q_sql_q5", "q_stats", "q_histogram_weighted", "q_interp_lookup", "q_meanmax",
    "q_time_delay", "q_fit_linear", "q_fit_exp_annealed", "q_weighted_quantile", "q_spline",
    "q_sessionize")

  test("the session's compiled-class cache holds GraftSession's working-set size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second run of each frame_ops query compiles no class") {
    val again = frameOps.map { q =>
      val fn = SparkEntry.queries(q)
      fn(spark, sf).count()
      q -> CodegenCensus.during(fn(spark, sf).count())._2.compiles
    }
    assert(again.filter(_._2 > 0) === Seq.empty)
  }

  test("a second run of a stateful streaming query compiles no class") {
    // each streaming query runs in a session of its own; with Spark's
    // per-session artifact isolation its tasks load classes through a
    // classloader of that session, and the compiled-class cache is
    // keyed by classloader, so with isolation on every run compiles its
    // stages again
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ckpt = java.nio.file.Files.createTempDirectory("codegen-stream").toString
    def run(i: Int): Unit = {
      val mem = MemoryStream[(Long, Long, Double)]
      val q = graft.streaming.EventStreams
        .sessionizeStream(mem.toDF().toDF("eps_us", "user_id", "value"), gapMs = 1000L)
        .writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", s"$ckpt/$i").start()
      try {
        mem.addData((1L, 1L, 1.0), (2L, 2L, 2.0), (5000000L, 1L, 3.0))
        q.processAllAvailable()
        mem.addData((9000000L, 1L, 4.0))
        q.processAllAvailable()
      } finally q.stop()
    }
    run(1)
    assert(CodegenCensus.during(run(2))._2.compiles === 0)
  }

  test("annealed fits with another seed, and linear fits of other data, compile no class") {
    val orders = Tables.orders(spark, sf)
    val first = Fit.exponentialAnnealed(orders, "o_custkey", "o_totalprice", 40, seed = 1L)
      .collect().head
    val (second, expFit) = CodegenCensus.during(
      Fit.exponentialAnnealed(orders, "o_custkey", "o_totalprice", 40, seed = 2L).collect().head)
    assert(expFit.compiles === 0)
    // one seed fit, two annealed walks that each keep the sse bound
    assert(first.getAs[Double]("a_seed") === second.getAs[Double]("a_seed"))
    assert(first.getAs[Double]("sse") <= first.getAs[Double]("sse_seed"))
    assert(second.getAs[Double]("sse") <= second.getAs[Double]("sse_seed"))

    val lineitem = Tables.lineitem(spark, sf)
    Fit.powerAnnealed(lineitem, "l_quantity", "l_extendedprice", 40, seed = 1L).collect()
    val (_, powFit) = CodegenCensus.during(
      Fit.powerAnnealed(lineitem, "l_quantity", "l_extendedprice", 40, seed = 2L).collect())
    assert(powFit.compiles === 0)

    def line(b: Double) = (1 to 20).map(i => (i.toDouble, 3.0 + b * i + (i % 3))).toDF("x", "y")
    val f1 = Fit.linear(line(2.0), "x", "y").collect().head
    val (f2, linFit) = CodegenCensus.during(Fit.linear(line(5.0), "x", "y").collect().head)
    assert(linFit.compiles === 0)
    assert(f1.getAs[Double]("slope") != f2.getAs[Double]("slope"))
  }
}
