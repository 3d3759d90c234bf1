package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-19 loop fusions: control-flow aggregates (convergence
  * probes, round gates) ride a frame's own checkpoint materialization
  * via `Dataset.observe` instead of a separate Spark job per round.
  * These pin the MECHANISM — metrics delivered by the checkpoint's
  * own action, values equal to the exact aggregates they replace —
  * plus the invalidation added to the Tables schema cache. The
  * operators' exactness is pinned where it always was (survivors
  * chain/cluster specs, SA extents parity + planted-truth suites). */
class ObservedSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("observe metrics ride an eager localCheckpoint and match exact aggregates") {
    val df = (1 to 1000).toDF("x")
      .select(col("x"), (col("x") % 7).as("k"))
    val obs = org.apache.spark.sql.Observation()
    val ck = Checkpoints.checkpoint(df
      .observe(obs, count(lit(1)).as("cnt"), max(col("k")).as("mx"),
        count(when(col("x") > 990, 1)).as("tail")))
    // the checkpoint above is EAGER — metrics must already be en route
    val m = Observed.metrics(obs)
    assert(m.isDefined, "localCheckpoint did not deliver observe metrics")
    assert(Observed.longOf(m.get, "cnt") === 1000L)
    assert(Observed.longOf(m.get, "mx") === 6L)
    assert(Observed.longOf(m.get, "tail") === 10L)
    // and the checkpointed data is untouched by the CollectMetrics node
    assert(ck.count() === 1000L)
    Checkpoints.free(ck)
  }

  test("longOf reads empty-input max (null) as 0") {
    val obs = org.apache.spark.sql.Observation()
    val ck = Checkpoints.checkpoint(Seq.empty[Int].toDF("x")
      .observe(obs, max(col("x")).as("mx"), count(lit(1)).as("cnt")))
    val m = Observed.metrics(obs)
    assert(m.isDefined)
    assert(Observed.longOf(m.get, "mx") === 0L)
    assert(Observed.longOf(m.get, "cnt") === 0L)
    Checkpoints.free(ck)
  }

  test("survivors converges identically with the fused probe (chain needs >1 round)") {
    // an 8-long chain: pointer doubling needs ~3 rounds, and the fused
    // observed probe must neither exit early (wrong survivors) nor
    // spin to maxIters (the exact confirm runs once, at the fixpoint)
    val pairs = (1L to 7L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val ids = (1L to 10L).toDF("id")
    val got = graft.dedup.Dedup.survivors(pairs, ids, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ((1L to 8L).map(i => (i, 1L)) ++ Seq((9L, 9L), (10L, 10L))).toSet
    assert(got === want)
  }

  test("Tables schema cache re-infers after an in-place rewrite (mtime key)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tabmtime").toString
    Seq((1L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = Tables(spark, dir, "documents").schema.fieldNames.toSet
    assert(first === Set("doc_id", "text"))
    Thread.sleep(1100) // dir mtime granularity can be coarse (1 s on some FS)
    Seq((1L, "a", 0.5)).toDF("doc_id", "text", "extra")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = Tables(spark, dir, "documents").schema.fieldNames.toSet
    assert(second === Set("doc_id", "text", "extra"),
      "schema cache served a stale StructType after an in-place rewrite")
  }

  test("a metric that never arrives falls back to None and is counted") {
    // an Observation whose frame never ran: the wait must time out
    val obs = org.apache.spark.sql.Observation()
    val before = Observed.fallbacks
    assert(Observed.metrics(obs, waitMs = 50L).isEmpty)
    assert(Observed.fallbacks === before + 1)
  }

  test("LoopGc interval parses fractions and falls back to the default on garbage") {
    def interval(v: String): Long = {
      spark.conf.set(LoopGc.IntervalKey, v)
      try {
        val t = LoopGc.ticker(spark)
        t.tick() // must not throw whatever the setting
        t.intervalNs
      } finally spark.conf.unset(LoopGc.IntervalKey)
    }
    assert(interval("1.5") === 1500000000L)
    assert(interval("not-a-number") === 60000000000L)
    assert(interval("NaN") === 60000000000L)
    assert(interval("0") === 0L)
    assert(interval(" 30 ") === 30000000000L)
  }
}
