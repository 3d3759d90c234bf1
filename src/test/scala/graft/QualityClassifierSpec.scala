package graft

import graft.text.QualityClassifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Trainable quality classifier (SURVEY.md §2 #77): a linear model
  * over hashed grams must separate a planted fluent/junk corpus and
  * generalize to held-out documents. */
class QualityClassifierSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // fluent docs: stopword-rich English-ish sentences; junk docs:
  // consonant salad with no shared vocabulary. Deterministic cycling.
  private val fluentVocab = Seq("the", "cat", "sat", "on", "a", "mat", "and",
    "the", "dog", "ran", "to", "it", "in", "warm", "sun", "of", "june")
  private val junkVocab = Seq("xqzt", "wkv", "zzpf", "qqj", "vxn", "ptk",
    "zzz", "kkx", "jjq", "wwv")

  private def doc(vocab: Seq[String], seed: Int, len: Int): String =
    (0 until len).map(i => vocab((seed * 5 + i * 7) % vocab.size)).mkString(" ")

  private lazy val corpus =
    ((0 until 60).map(i => (i.toLong, doc(fluentVocab, i, 30), 1)) ++
      (60 until 120).map(i => (i.toLong, doc(junkVocab, i, 30), 0)))
      .toDF("doc_id", "text", "label")

  test("holdout accuracy >= 0.9 on a planted fluent/junk corpus") {
    val train = corpus.filter(col("doc_id") % 3 =!= 0)
    val holdout = corpus.filter(col("doc_id") % 3 === 0)
    val model = QualityClassifier.train(train, "text", "label",
      buckets = 1 << 12, maxIter = 20)
    val scored = QualityClassifier.score(model, holdout, "text")
      .select(col("label"), col("quality_prob")).collect()
    assert(scored.nonEmpty)
    val correct = scored.count(r =>
      (r.getAs[Double]("quality_prob") >= 0.5) == (r.getAs[Int]("label") == 1))
    assert(correct.toDouble / scored.length >= 0.9,
      s"$correct of ${scored.length} holdout docs correct")
  }

  test("probabilities are valid and fluent docs outscore junk on average") {
    val model = QualityClassifier.train(corpus, "text", "label",
      buckets = 1 << 12, maxIter = 20)
    val scored = QualityClassifier.score(model, corpus, "text")
    val probs = scored.select("quality_prob").as[Double].collect()
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
    val avg = scored.groupBy("label").agg(mean("quality_prob").as("p"))
      .collect().map(r => r.getAs[Int]("label") -> r.getAs[Double]("p")).toMap
    assert(avg(1) > avg(0) + 0.5, s"separation too weak: $avg")
  }

  test("bootstrapScore labels by median split and returns one row per doc") {
    // varied lengths: the heuristic score must take >2 distinct values
    // or the median split degenerates (every doc >= the median score)
    val varied =
      ((0 until 60).map(i => (i.toLong, doc(fluentVocab, i, 10 + i % 40), 1)) ++
        (60 until 120).map(i => (i.toLong, doc(junkVocab, i, 10 + i % 40), 0)))
        .toDF("doc_id", "text", "label")
    val out = QualityClassifier.bootstrapScore(varied, "text", "doc_id",
      Seq("the", "a", "of", "and", "to", "in", "is", "it"), buckets = 1 << 12)
    assert(out.count() == 120)
    assert(out.select("label").distinct().count() == 2)
  }

  test("quality_prob equals the fitted model's own P(label=1), rounded 4") {
    val model = QualityClassifier.train(corpus, "text", "label",
      buckets = 1 << 12, maxIter = 20)
    // driver-side reference: MLlib's own probability per feature vector
    val want = QualityClassifier.featurize(corpus, "text", 1 << 12)
      .select("doc_id", "__qc_feat").collect().map { r =>
        val p = model.lr.predictProbability(
          r.getAs[org.apache.spark.ml.linalg.Vector]("__qc_feat"))(1)
        r.getLong(0) -> BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    val got = QualityClassifier.score(model, corpus, "text")
      .select("doc_id", "quality_prob").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === want)
  }

  test("scoring stays serializable after an observed op in the same session") {
    // an observed action registers the Observation with the session;
    // a scoring closure that reached the session (the fitted model's
    // training summary holds it) then fails with Task not serializable
    val obs = org.apache.spark.sql.Observation()
    val ck = Checkpoints.checkpoint((1 to 100).toDF("x")
      .observe(obs, count(lit(1)).as("cnt")))
    assert(Observed.metrics(obs).map(Observed.longOf(_, "cnt")).contains(100L))
    Checkpoints.free(ck)
    val out = QualityClassifier.bootstrapScore(corpus, "text", "doc_id",
      Seq("the", "a", "of", "and", "to", "in", "is", "it"), buckets = 1 << 12)
    val probs = out.select("quality_prob").as[Double].collect()
    assert(probs.length == 120)
    assert(probs.forall(p => p >= 0.0 && p <= 1.0))
  }
}
