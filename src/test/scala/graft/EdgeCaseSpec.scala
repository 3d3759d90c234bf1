package graft

import graft.operators._
import graft.operators.FrameOps._
import graft.dedup.Dedup
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate inputs: empty frames, single rows, all-null columns —
  * operators must return empty/neutral results, not throw. */
class EdgeCaseSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("empty frames: stats, histogram, quantiles, dedup, fingerprints") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("x", DoubleType))))
    val s = Stats.statistics(empty, "x").first()
    assert(s.getAs[Long]("cnt") == 0 && s.isNullAt(1))
    assert(Histogram.histogram(empty, "x", 1.0).count() == 0)
    // percentile of nothing → null array → explodes to zero rows
    assert(Stats.quantiles(empty, "x", Seq(0.5)).count() == 0)
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.fingerprints(emptyDocs, "text", "doc_id").count() == 0)
  }

  test("curation ops on empty/degenerate input: empty results, never errors") {
    import graft.pipeline.{Packing, Sampling}
    assert(Packing.chunkPack(emptyDocs, "doc_id", "text", 512, 8).count() == 0)
    assert(Packing.binPack(emptyDocs, "doc_id", "text", 512, 8).count() == 0)
    assert(Sampling.stratified(
      emptyDocs.withColumn("lang", lit("en")), "lang", "doc_id", 5).count() == 0)
    assert(Sampling.weighted(
      emptyDocs.withColumn("w", lit(1.0)), "doc_id", "w", 5).count() == 0)
    assert(graft.text.HeavyHitters.exact(emptyDocs, "text", 5).count() == 0)
    assert(graft.text.TfIdf.topTerms(emptyDocs, "doc_id", "text", 3).count() == 0)
    // all-zero-weight rows are filtered, not divided by
    val zeroW = Seq((1L, 0.0), (2L, 0.0)).toDF("doc_id", "w")
    assert(Sampling.weighted(zeroW, "doc_id", "w", 5).count() == 0)
    // docs below the shingle size produce no stream state either
    val cms = graft.text.HeavyHitters.withCmsEstimates(
      Seq((1L, "solo")).toDF("doc_id", "text"), "text", 5)
    assert(cms.count() == 1)
  }

  test("single-row series: fits return nulls not crashes, meanmax returns nothing") {
    val one = Seq((1.0, 2.0)).toDF("x", "y")
    val lin = Fit.linear(one, "x", "y").first()
    assert(lin.isNullAt(1)) // slope undefined on 1 point
    // reference make-mean-max returns '() for <2 samples (meanmax.rkt l.193)
    val mm = MeanMax.meanMax(Seq((1L, 0L, 5.0)).toDF("k", "eps", "v"), "k", "eps", "v", Seq(10L))
    assert(mm.count() == 0)
  }

  test("all-null column: countNa totals, describe, validOnly") {
    val df = Seq((1, Option.empty[Double]), (2, Option.empty[Double])).toDF("id", "v")
    assert(df.countNa("v").first().getLong(0) == 2)
    assert(df.validOnly("v").count() == 0)
    val d = df.describeNumeric(Seq("v")).first()
    assert(d.getAs[Long]("cnt") == 0)
  }

  test("short documents: shingles/minhash skip docs below k words") {
    val docs = Seq((1L, "one two"), (2L, "a b c d e")).toDF("doc_id", "text")
    assert(Dedup.shingles(docs, "doc_id", "text", 3).select("doc_id").distinct().count() == 1)
    assert(Dedup.minhashCandidates(docs, "doc_id", "text").count() == 0)
    val und = spark.range(1).select(TextAnalysis.languageId(lit("")).as("g")).first()
    assert(und.getString(0) == "und") // empty text → "und"
  }

  test("weighted stats skip pairs with a null current value (no weight bias)") {
    // (w,v): (0,10),(10,null),(20,10) — only invalid pairs around the null;
    // reference semantics: the null sample contributes nothing
    val df = Seq((0.0, Some(10.0)), (10.0, Option.empty[Double]), (20.0, Some(10.0)))
      .toDF("w", "v")
    val r = Stats.weightedStatistics(df, None, Seq(col("w")), "v", "w").first()
    assert(r.getAs[Long]("cnt") == 0 || !r.isNullAt(1)) // no biased mean from null pairs
    val pairs = Stats.weightedPairs(df, None, Seq(col("w")), "v", "w").count()
    assert(pairs == 0) // both adjacent pairs touch the null value
  }

  test("interpolated lookup returns the boundary value at the last sample") {
    val base = Seq((1L, 0.0, 0.0), (1L, 10.0, 100.0), (1L, 20.0, 50.0)).toDF("k", "t", "v")
    val probes = Seq((1L, 20.0), (1L, 15.0)).toDF("k", "p")
    val r = Lookup.interpolated(base, probes, "k", "t", "v", "p")
      .collect().map(x => x.getDouble(1) -> x.getDouble(2)).toMap
    assert(r(20.0) == 50.0) // exact last-sample probe kept
    assert(r(15.0) == 75.0)
  }

  test("polynomial fit on degenerate input returns null coefficients") {
    val one = Seq((1.0, 2.0)).toDF("x", "y")
    val r = Fit.polynomial(one, "x", "y", 2).orderBy("degree").collect()
    assert(r.length == 3 && r.forall(_.isNullAt(1)))
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    assert(Fit.polynomial(empty, "x", "y", 2).collect().forall(_.isNullAt(1)))
  }

  test("spline dedups duplicate knot x-values instead of emitting NaN") {
    val knots = Seq((1L, 0.0, 1.0), (1L, 5.0, 2.0), (1L, 5.0, 4.0), (1L, 10.0, 3.0))
      .toDF("k", "x", "y")
    val probes = Seq((1L, 5.0), (1L, 7.5)).toDF("k", "px")
    val r = Spline.interpolate(knots, probes, "k", "x", "y", "px").collect()
    assert(r.forall(row => !row.getDouble(2).isNaN))
    assert(r.find(_.getDouble(1) == 5.0).get.getDouble(2) == 4.0) // last y wins
  }

  test("categorical histogram on empty input returns empty, not NPE") {
    assert(Histogram.categorical(emptyDocs.select(col("text")), "text", asPercentage = true)
      .count() == 0)
  }

  test("survivors resolves long chains within the round bound (star route)") {
    import graft.dedup.Dedup
    // a sorted chain and the same chain over shuffled ids: the old
    // min-label loop needed rounds linear in the length of the second
    val shuffled = new scala.util.Random(3).shuffle((1L to 300L).toVector)
    for (order <- Seq((1L to 300L).toVector, shuffled)) {
      val chain = order.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("doc1", "doc2")
      val ids = (1L to 300L).toDF("doc_id")
      val before = Dedup.survivorStats.starRounds
      val surv = onSurvivorsRoute("star")(Dedup.survivors(chain, ids, "doc_id")).cache()
      val rounds = Dedup.survivorStats.starRounds - before
      assert(surv.count() == 300)
      assert(surv.filter(col("survivor") =!= 1L).count() == 0) // whole chain → min id 1
      assert(rounds <= Dedup.starRoundBound(600L), s"$rounds rounds")
      surv.unpersist()
    }
  }

  test("spline with fewer than 3 knots degrades to linear/constant") {
    val knots = Seq((1L, 0.0, 1.0), (1L, 10.0, 3.0)).toDF("k", "x", "y")
    val probes = Seq((1L, 5.0)).toDF("k", "px")
    val r = Spline.interpolate(knots, probes, "k", "x", "y", "px").first()
    assert(r.getDouble(2) == 2.0) // straight line between two knots
  }

  test("bloom contamination: empty benchmark, null/short texts, empty corpus") {
    val corpus = Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, null.asInstanceOf[String]), (12L, "short one")).toDF("doc_id", "text")
    // empty benchmark → empty bloom → zero overlap everywhere, never an error
    val c = graft.pipeline.Curation.contaminationBloom(
      corpus, emptyDocs, "doc_id", "text", k = 5)
    val rows = c.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(rows == Map(10L -> 0L)) // null/short texts carry no shingles
    // per-row variant agrees on the same degenerate inputs
    val bloom = graft.pipeline.Curation.shingleBloom(emptyDocs, "text", k = 5)
    val pr = graft.pipeline.Curation.contaminationPerRow(corpus, bloom, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pr == rows)
    // empty corpus → empty result on both paths
    assert(graft.pipeline.Curation.contaminationBloom(
      emptyDocs, corpus, "doc_id", "text", k = 5).isEmpty)
    assert(graft.pipeline.Curation.contaminationPerRow(
      emptyDocs, bloom, "doc_id", "text", k = 5).isEmpty)
  }
}
