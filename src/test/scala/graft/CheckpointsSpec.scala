package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reliable-checkpoint opt-in (SURVEY.md §4): by default every
  * load-bearing lineage truncation is a localCheckpoint; with
  * `spark.graft.reliableCheckpoints=true` + a checkpoint dir the same
  * sites write through Dataset.checkpoint and survive executor loss. */
class CheckpointsSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("flag without a checkpoint dir fails fast, never falls back to local") {
    // must run BEFORE the dir is set on the shared context (a
    // checkpoint dir, once set, cannot be unset). FunSuite runs tests
    // in registration order, so within this suite the ordering holds;
    // a FAILURE here (not a skip — an `assume` would silently drop the
    // no-silent-fallback coverage forever) means some other suite now
    // sets a checkpoint dir on the shared context and this test needs
    // its own context to stay meaningful.
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "shared SparkContext already has a checkpoint dir — the fail-fast " +
        "guarantee is untestable here; isolate this test or reorder suites")
    spark.conf.set(Checkpoints.ConfKey, "true")
    try {
      val ex = intercept[org.apache.spark.SparkException] {
        Checkpoints.checkpoint(Seq(1, 2, 3).toDF("x")).count()
      }
      assert(ex.getMessage.toLowerCase.contains("checkpoint"))
    } finally spark.conf.set(Checkpoints.ConfKey, "false")
  }

  test("reliable mode writes checkpoint files and operators stay exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    // reference output on the default (local) path
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val ids = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    def run() = onSurvivorsRoute("star")(graft.dedup.Dedup.survivors(pairs, ids, "id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run()
    assert(local == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
    spark.conf.set(Checkpoints.ConfKey, "true")
    try {
      assert(run() == local)
      // the truncations really went through the reliable path
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files under $dir")
    } finally {
      spark.conf.set(Checkpoints.ConfKey, "false")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  private def checkpointRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      case other => fail(s"expected a checkpoint-backed plan, got $other")
    }

  test("free drops a local checkpoint's blocks; Dataset.unpersist provably does not") {
    val ck = Checkpoints.checkpoint(Seq(1, 2, 3, 4).toDF("x"))
    val id = checkpointRddId(ck)
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "an eager local checkpoint must register persisted blocks")
    // the latent no-op this API exists to replace: Dataset.unpersist
    // routes through the SQL CacheManager and never touches blocks
    // persisted directly on the checkpoint RDD
    ck.unpersist(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.contains(id),
      "Dataset.unpersist freed checkpoint blocks — if Spark's behavior " +
        "changed, Checkpoints.free may be retired")
    Checkpoints.free(ck)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "Checkpoints.free must remove the checkpoint RDD from the persistent set")
    // free on a non-checkpoint frame is a safe no-op
    Checkpoints.free(Seq(1).toDF("x"))
  }

  test("survivors frees superseded generations: at most the final labels stay resident") {
    // a 6-long chain over shuffled ids forces several star rounds, so
    // the loop creates (and must free) several superseded edge sets;
    // the driver route keeps no checkpoint at all
    val order = Seq(4L, 1L, 6L, 3L, 5L, 2L)
    val pairs = order.sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc1", "doc2")
    val ids = (1L to 8L).toDF("id")
    val want = ((1L to 6L).map(_ -> 1L) ++ Seq(7L -> 7L, 8L -> 8L)).toSet
    for ((route, resident) <- Seq("star" -> 1, "driver" -> 0)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val rounds0 = graft.dedup.Dedup.survivorStats.starRounds
      val out = onSurvivorsRoute(route)(graft.dedup.Dedup.survivors(pairs, ids, "id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == want, route)
      if (route == "star")
        assert(graft.dedup.Dedup.survivorStats.starRounds - rounds0 >= 2, "expected several rounds")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.size <= resident,
        s"$route route left ${leaked.size} checkpoints resident (expected <= $resident, " +
          "the final edges the lazy result still reads): rdd ids " + leaked.mkString(","))
    }
  }
}
