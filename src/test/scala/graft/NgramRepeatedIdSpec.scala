package graft

import graft.dedup.Dedup
import graft.pipeline.Curation
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** An id on several rows is one document with the union of their
  * shingles, on every n-gram Jaccard path: the exact ones (direct
  * self-join, prefix-filtered join, contamination) count each shingle
  * once per id, as the banded path's per-id projection does, and they
  * pay for it with no exchange beyond the one-row-per-id plan's. */
class NgramRepeatedIdSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def words(from: Int, until: Int) = (from until until).map(i => s"w$i").mkString(" ")

  // id 1's two rows overlap in "w3 w4 w5": their union is id 2's 7
  // shingles exactly (J = 1.0). Counted per row, id 1 has 8 shingles
  // and meets id 2 in 8 of them (J = 8/7). id 4's rows are identical.
  private val corpus = Seq((1L, words(0, 6)), (1L, words(3, 9)), (2L, words(0, 9)),
    (3L, "x0 x1 x2 x3 x4"), (4L, words(20, 26)), (4L, words(20, 26)), (5L, words(20, 26)))
    .toDF("doc_id", "text")

  private def pairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("exact n-gram paths agree with the banded path on repeated ids") {
    val banded = pairs(Dedup.ngramJaccardPairsBanded(corpus, "doc_id", "text", 3, 0.5))
    assert(banded === Set((1L, 2L, 1.0), (4L, 5L, 1.0)))
    assert(pairs(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)) === banded)
    assert(pairs(Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", 3, 0.5)) === banded)
    // below the banding boundary the router takes an exact path
    assert(pairs(Dedup.ngramJaccardPairsAuto(corpus, "doc_id", "text", 3, 0.5)) === banded)
  }

  test("contamination counts an id's shingles once over its rows") {
    val bench = Seq((0L, "w4 w5 w6 w7")).toDF("doc_id", "text")
    val c = Curation.contamination(corpus, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // id 1: union of 7 shingles, 2 of them ("w4 w5 w6", "w5 w6 w7") in the benchmark
    assert(c(1L) === ((7L, 2L, 0.2857)))
    assert(c(2L) === ((7L, 2L, 0.2857)))
    assert(c(4L) === ((4L, 0L, 0.0)))
  }

  /** Stages that `f` runs which write shuffle output, counted by job
    * group; a sentinel job in another group proves the listener has
    * seen them. */
  private def shuffleStages(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
      SparkListenerStageSubmitted}
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sentinel = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("ngram-shuffles") => mine.add(e.stageInfo.stageId)
          case Some("ngram-sentinel") => sentinel.set(true)
          case _ =>
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        if (mine.contains(i.stageId) && i.taskMetrics != null &&
            i.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) seen.add(i.stageId)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Dedup.releaseCaches()
      sc.setJobGroup("ngram-shuffles", "shuffles of one operator")
      f
      sc.setJobGroup("ngram-sentinel", "listener sentinel")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 20000
      while (!sentinel.get() && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(sentinel.get(), "sentinel job never observed")
      seen.size
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Dedup.releaseCaches()
    }
  }

  test("one row per id: the exact paths run no more shuffles than the per-row plans did") {
    val unique = Seq((1L, words(0, 9)), (2L, words(0, 8)), (3L, words(20, 26)), (6L, words(2, 12)))
      .toDF("doc_id", "text")
    val bench = Seq((0L, "w4 w5 w6 w7")).toDF("doc_id", "text")
    def counts = Seq(
      shuffleStages(Dedup.ngramJaccardPairs(unique, "doc_id", "text", 3, 0.5).collect()),
      shuffleStages(Dedup.ngramJaccardPairsPrefix(unique, "doc_id", "text", 3, 0.5).collect()),
      shuffleStages(Curation.contamination(unique, bench, "doc_id", "text", k = 3).collect()))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val broadcast = counts
    spark.conf.set(key, "-1") // the sort-merge plans of large inputs
    val merge = try counts finally spark.conf.unset(key)
    // the per-row formulation's shuffles, measured on the same inputs:
    // the direct join, the prefix-filtered join, contamination
    val was = Seq(Seq(5, 6, 3), Seq(7, 16, 3))
    assert(Seq(broadcast, merge).zip(was).forall { case (now, before) =>
      now.zip(before).forall { case (n, w) => n <= w } }, s"broadcast: $broadcast, sort-merge: $merge")
  }
}
