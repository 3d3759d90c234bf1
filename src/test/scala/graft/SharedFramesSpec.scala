package graft

import graft.dedup.SuffixSpans
import graft.pipeline.Dsir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cross-query reuse registry: plan-keyed memoization must HIT for
  * equivalent inputs (that is the whole point — one DSIR-weights or
  * edit-distance construction for the family) and MISS for different
  * inputs or parameters. */
class SharedFramesSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def docsDf() = Seq(
    1L -> "one two three four five six seven eight nine ten eleven twelve",
    2L -> "zz one two three four five six seven eight nine ten eleven twelve yy",
    3L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    4L -> "unrelated words entirely different from the rest of them all here"
  ).toDF("doc_id", "text")

  test("getOrCompute: hit on equivalent plan + params, miss otherwise") {
    SharedFrames.releaseAll()
    val a = docsDf(); val b = docsDf() // distinct objects, same plan
    var computes = 0
    def get(df: org.apache.spark.sql.DataFrame, p: Int) =
      SharedFrames.getOrCompute("spec_tag", Seq(df), Seq(p)) {
        computes += 1; df.select(col("doc_id"))
      }
    val r1 = get(a, 1); val r2 = get(b, 1)
    assert(computes == 1 && (r1 eq r2), "equivalent input must hit")
    get(a, 2)
    assert(computes == 2, "different params must miss")
    get(a.filter(col("doc_id") > 1), 1)
    assert(computes == 3, "different plan must miss")
    SharedFrames.releaseAll()
    get(a, 1)
    assert(computes == 4, "released entry must recompute")
    SharedFrames.releaseAll()
  }

  test("releaseCreatedBy drops only that creator's entries") {
    SharedFrames.releaseAll()
    SharedFrames.creatorTag = "qA"
    SharedFrames.getOrCompute("tagA", Seq(docsDf()), Seq(1)) { docsDf() }
    SharedFrames.creatorTag = "qB"
    SharedFrames.getOrCompute("tagB", Seq(docsDf()), Seq(2)) { docsDf() }
    SharedFrames.releaseCreatedBy("qA")
    assert(SharedFrames.liveTags == Seq("tagB"))
    SharedFrames.releaseAll()
    SharedFrames.creatorTag = ""
  }

  test("suffix-array extents are built per call, outside the registry") {
    // the SA build has one consumer (longestPassages) and no covering
    // reuse, so it must not leave an entry that Bench would have to
    // declare as a family
    SharedFrames.releaseAll()
    val ext = SuffixSpans.repeatExtents(docsDf(), "doc_id", "text", minLen = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(3)).toMap
    assert(SharedFrames.liveTags.isEmpty)
    // docs 1 and 2 share "one … twelve": 12 tokens from doc 1's pos 0
    assert(ext((1L, 0)) == 12L && ext((2L, 1)) == 12L)
    graft.dedup.Dedup.releaseCaches()
  }

  test("DSIR weights frame is computed once across score + sample") {
    SharedFrames.releaseAll()
    val docs = docsDf()
    val target = docs.filter(col("doc_id") % 2 === 0)
    val ratios = Dsir.logRatios(target, docs, "text", "doc_id", buckets = 100)
    Dsir.importanceLogWeights(docs, ratios, "text", "doc_id", buckets = 100).collect()
    Dsir.sample(docs, target, "text", "doc_id", k = 2, buckets = 100).collect()
    assert(SharedFrames.liveTags.count(_ == "dsir_weights") == 1,
      "sample must reuse the weights entry importanceLogWeights built")
    SharedFrames.releaseAll()
  }

  test("editdist family: base + auto share one pairs entry when the " +
      "chooser routes to the default rung") {
    SharedFrames.releaseAll()
    val dir = sf // spec-scale corpus: chooser lands on the first rung
    val base = SparkEntry.queries("q_dedup_editdist")(spark, dir)
    assert(SharedFrames.liveTags.count(_ == "editdist_pairs") == 1)
    val auto = SparkEntry.queries("q_dedup_editdist_auto")(spark, dir)
    assert(SharedFrames.liveTags.count(_ == "editdist_pairs") == 1,
      "auto at the default rung must hit the base entry, not rebuild")
    val a = base.collect().map(_.toSeq).toSet
    val b = auto.collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty, "shared entry must serve identical pairs")
    SharedFrames.releaseAll()
  }
}
