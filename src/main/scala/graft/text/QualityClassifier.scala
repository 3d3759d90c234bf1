package graft.text

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.HashingTF
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trainable document-quality classifier — the fasttext-shaped linear
  * model every production curation stack runs after the heuristic
  * filters (the GPT-3/CCNet "quality filter": score web documents by
  * how much they resemble a trusted corpus). Features are hashed
  * unigram+bigram counts ([[TextAnalysis.wordGrams]], `buckets` bins
  * via HashingTF); the model is MLlib binomial logistic regression.
  *
  * Scale shape: featurization is a stateless per-row projection (no
  * vocabulary — hashing sidesteps the corpus-sized dictionary build);
  * training is `maxIter` treeAggregate gradient passes, each moving
  * one `buckets`-sized coefficient vector (2^18 ≈ 2 MB) per executor,
  * never a corpus-sized structure; scoring ships that same vector in
  * its task closure and is again a pure projection — streaming-legal,
  * and the exact shape a 1000-executor scoring pass wants. */
object QualityClassifier {

  final case class Model(lr: LogisticRegressionModel, buckets: Int)

  private[graft] def featurize(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    new HashingTF().setInputCol("__qc_grams").setOutputCol("__qc_feat")
      .setNumFeatures(buckets)
      .transform(
        df.withColumn("__qc_ws", TextAnalysis.words(col(textCol)))
          .withColumn("__qc_grams", TextAnalysis.wordGrams("__qc_ws"))
          .drop("__qc_ws"))

  /** Fit on a labeled frame (`labelCol` ∈ {0, 1}). L2-regularized;
    * `maxIter` bounds the gradient passes (each is one corpus scan). */
  def train(df: DataFrame, textCol: String, labelCol: String,
            buckets: Int = 1 << 18, maxIter: Int = 20,
            regParam: Double = 1e-3): Model = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val feats = featurize(df, textCol, buckets)
      .withColumn("__qc_label", col(labelCol).cast("double"))
    val lr = new LogisticRegression()
      .setFeaturesCol("__qc_feat").setLabelCol("__qc_label")
      .setMaxIter(maxIter).setRegParam(regParam).setStandardization(false)
    Model(lr.fit(feats), buckets)
  }

  /** Score a frame: appends `quality_prob` = sigmoid(w·x + b), i.e.
    * P(label=1), rounded 4. Pure projection; the closure captures the
    * coefficients and intercept as plain values, never the fitted
    * model — its training summary holds the SparkSession, which stops
    * being serializable once any `Dataset.observe` has registered an
    * Observation with it (`Task not serializable`). */
  def score(model: Model, df: DataFrame, textCol: String): DataFrame = {
    val w = model.lr.coefficients.toArray
    val b = model.lr.intercept
    val prob = udf { (x: Vector) =>
      var dot = 0.0
      x.foreachActive((i, v) => dot += v * w(i))
      1.0 / (1.0 + math.exp(-(dot + b)))
    }
    featurize(df, textCol, model.buckets)
      .withColumn("quality_prob", round(prob(col("__qc_feat")), 4))
      .drop("__qc_grams", "__qc_feat")
  }

  /** Weak-supervision bootstrap: label the corpus by whether its
    * heuristic `quality_score` clears the corpus median, train on
    * those labels, score every document. The standard cold-start move
    * when no hand-labeled quality set exists (heuristics label the
    * extremes well; the linear model generalizes the middle). Returns
    * (idCol, label, quality_prob). */
  def bootstrapScore(df: DataFrame, textCol: String, idCol: String,
                     stopwords: Seq[String], buckets: Int = 1 << 16,
                     maxIter: Int = 10): DataFrame = {
    val scored = TextAnalysis.quality(df, textCol, idCol, stopwords)
      .select(col(idCol), col("quality_score"))
    // one driver scalar (the median) — same bounded-collect shape as
    // the LSH auto-density count
    val med = scored.stat.approxQuantile("quality_score", Array(0.5), 0.001)(0)
    // internal label name: the input frame may legitimately carry its
    // own `label` column (ambiguous-reference otherwise)
    val labeled = df.join(
      scored.select(col(idCol),
        (col("quality_score") >= med).cast("int").as("__qc_boot")), Seq(idCol))
    val model = train(labeled, textCol, "__qc_boot", buckets, maxIter)
    score(model, labeled, textCol)
      .select(col(idCol), col("__qc_boot").as("label"), col("quality_prob"))
  }
}
