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
  * chain/cluster specs, SA extents brute-force + planted-truth suites). */
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
    // an 8-long chain over shuffled ids on the star route: it needs
    // several rounds, and the observed counts must neither end the loop
    // early (wrong survivors) nor keep it spinning (the exact probe
    // confirms the fixpoint once). Probe jobs are counted by job group.
    val order = Seq(5L, 2L, 8L, 1L, 7L, 3L, 6L, 4L)
    val pairs = order.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc1", "doc2")
    val ids = (1L to 10L).toDF("id")
    val before = graft.dedup.Dedup.survivorStats.starRounds
    val got = onSurvivorsRoute("star")(graft.dedup.Dedup.survivors(pairs, ids, "id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rounds = graft.dedup.Dedup.survivorStats.starRounds - before
    val want = ((1L to 8L).map(i => (i, 1L)) ++ Seq((9L, 9L), (10L, 10L))).toSet
    assert(got === want)
    assert(rounds >= 2 && rounds <= graft.dedup.Dedup.starRoundBound(14L), s"$rounds rounds")
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

  test("Tables schema cache: rewrites replace one entry; invalidate covers the same-mtime window") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tabinv").toString
    val path = s"$dir/documents.parquet"
    val narrow = Seq((1L, "a")).toDF("doc_id", "text")
    val wide = Seq((1L, "a", 0.5)).toDF("doc_id", "text", "extra")
    def cols = Tables(spark, dir, "documents").schema.fieldNames.toSet
    // N rewrites at distinct mtimes: each is re-inferred, and the path
    // keeps ONE entry (the old key grew by one per mtime)
    for (i <- 1 to 4) {
      (if (i % 2 == 0) wide else narrow).write.mode("overwrite").parquet(path)
      assert(new java.io.File(path).setLastModified(i * 1000000L))
      assert(cols === (if (i % 2 == 0) Set("doc_id", "text", "extra") else Set("doc_id", "text")))
    }
    assert(Tables.schemaCacheEntries(path) === 1)
    // a rewrite that keeps the mtime (same-second window) is served
    // the stale schema until invalidate
    narrow.write.mode("overwrite").parquet(path)
    assert(new java.io.File(path).setLastModified(4000000L))
    assert(cols === Set("doc_id", "text", "extra"), "fixture no longer reproduces the window")
    Tables.invalidate(path)
    assert(Tables.schemaCacheEntries(path) === 0)
    assert(cols === Set("doc_id", "text"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a metric that never arrives falls back to None and is counted") {
    // an Observation whose frame never ran: the wait must time out
    val obs = org.apache.spark.sql.Observation()
    val before = Observed.fallbacks
    assert(Observed.metrics(obs, waitMs = 50L).isEmpty)
    assert(Observed.fallbacks === before + 1)
  }
}
