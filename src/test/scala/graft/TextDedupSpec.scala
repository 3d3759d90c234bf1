package graft

import graft.dedup.Dedup
import graft.similarity.{Cosine, Ivf, Pq}
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextDedupSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words here entirely unrelated tokens"),
    (4L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val m = Dedup.exact(docs, "doc_id", "text").collect()
    assert(m.length == 3)
    val dup = m.find(_.getAs[Long]("cnt") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("ngram jaccard finds near pairs, not unrelated ones") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical → jaccard 1
    assert(pairs.contains((1L, 2L))) // one word differs
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix-filtered ngram jaccard equals the direct shingle self-join") {
    // 60 docs over a small shared vocab → frequent shingles everywhere,
    // the exact regime prefix filtering must survive unharmed
    val rng = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val corpus = (0L until 60L).map { i =>
      (i, Seq.fill(12)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pruned = toSet(Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", 3, 0.2))
    val brute = toSet(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.2))
    assert(brute.nonEmpty, "fixture should produce qualifying pairs")
    assert(pruned == brute)
  }

  test("banded ngram jaccard equals the direct join; candidate fan-out stays linear on Zipfian shingles") {
    // Zipfian stress corpus: one shingle ("zz0 zz1 zz2") appears in 50%
    // of 400 docs — the direct shingle self-join must meet C(200,2) ≈
    // 20k pairs on that one shuffle key alone, while MinHash banding's
    // candidate count stays within a few hundred. 15 planted near-dup
    // pairs (last word swapped, J ≈ 0.82) are what both paths must emit.
    val rng = new scala.util.Random(7)
    val baseWords: Map[Long, Seq[String]] =
      (0L until 400L).map(i => i -> Seq.fill(30)(s"v${rng.nextInt(8000)}")).toMap
    def text(i: Long): String = {
      val base = if (i < 400) baseWords(i) else baseWords(i - 400).init :+ "altword"
      val withMega = if (i % 2 == 0) Seq("zz0", "zz1", "zz2") ++ base else base
      withMega.mkString(" ")
    }
    val corpus = ((0L until 400L) ++ (400L until 415L)).map(i => (i, text(i)))
      .toDF("doc_id", "text").cache()
    val sh = Dedup.shingles(corpus, "doc_id", "text", 3).cache()
    // direct join's fan-out = Σ C(per-shingle group, 2)
    val directMeetings = sh.groupBy("shingle").count()
      .agg(sum(col("count") * (col("count") - 1) / 2).cast("long")).first().getLong(0)
    val bandedCands = Dedup.bandPairs(
      Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 64), "doc_id", 64, 32).count()
    assert(directMeetings > 15000, s"Zipfian fixture should explode the direct join (got $directMeetings)")
    assert(bandedCands < 2000, s"banded candidates should stay linear (got $bandedCands)")
    assert(directMeetings > 5 * bandedCands)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = toSet(Dedup.ngramJaccardPairsBanded(corpus, "doc_id", "text", 3, 0.2))
    val direct = toSet(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.2))
    assert(direct.size >= 15, "planted near-dups should qualify")
    assert(banded == direct)
    // the router must detect this hot-shingle regime and still produce
    // the exact result (via the prefix path, which prunes the megashingle)
    val auto = toSet(Dedup.ngramJaccardPairsAuto(corpus, "doc_id", "text", 3, 0.2))
    assert(auto == direct)
  }

  test("banded pairs: an id on two rows is one document with the union of their shingles") {
    // doc 2's two rows are the disjoint halves of doc 1: 4 + 4 shingles,
    // all among doc 1's 10, so J(1, 2) = 8 / 10 — the value the
    // shingle-row formulation (and the direct join) gives on this input
    val corpus = Seq((1L, (0 until 12).map(i => s"w$i").mkString(" ")),
      (2L, (0 until 6).map(i => s"w$i").mkString(" ")),
      (2L, (6 until 12).map(i => s"w$i").mkString(" ")),
      (3L, "x0 x1 x2 x3")).toDF("doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = toSet(Dedup.ngramJaccardPairsBanded(corpus, "doc_id", "text", 3, 0.5))
    assert(banded === Set((1L, 2L, 0.8)))
    assert(toSet(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5)) === banded)
  }

  test("ngram router: recall-1 path below the banding boundary, where banding demonstrably under-recalls") {
    // 40 planted mid-J pairs: 12 common words + 18 unique per side →
    // 10 of 28+28 shingles shared, J = 10/46 ≈ 0.217 — just above the
    // registered t = 0.2, squarely below the banding recall boundary
    val corpus = (0 until 40).flatMap { p =>
      val common = (0 until 12).map(w => s"c${p}_$w")
      val a = common ++ (0 until 18).map(w => s"a${p}_$w")
      val b = common ++ (0 until 18).map(w => s"b${p}_$w")
      Seq((p * 2L, a.mkString(" ")), (p * 2L + 1, b.mkString(" ")))
    }.toDF("doc_id", "text").cache()
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = toSet(Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.2))
    assert(exact.size == 40, s"fixture should qualify all 40 pairs (got ${exact.size})")
    // the ROUTER at t=0.2 must select a recall-1 path and find every pair
    val auto = toSet(Dedup.ngramJaccardPairsAuto(corpus, "doc_id", "text", 3, 0.2))
    assert(auto == exact)
    // the banded path at the same threshold misses pairs — each pair
    // survives no band w.p. (1−J²)³² ≈ 27%; deterministic for this
    // fixture + fixed hashing, and exactly why the router exists
    val banded = toSet(Dedup.ngramJaccardPairsBanded(corpus, "doc_id", "text", 3, 0.2))
    assert(banded.subsetOf(exact))
    assert(banded.size < exact.size,
      s"banded at t=0.2 should demonstrate the recall gap (found ${banded.size}/40)")
    // and the boundary itself: 64-perm/32-band is recall-safe from ~0.69
    val t = Dedup.bandedSafeThreshold(64, 32)
    assert(t > 0.6 && t < 0.8, s"unexpected banding boundary $t")
    corpus.unpersist()
  }

  test("minhash candidates ⊇ high-jaccard pairs, est within 0.3 of exact") {
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", 3, 32, 8, 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cands.contains((1L, 4L)) && cands((1L, 4L)) == 1.0)
    assert(cands.contains((1L, 2L)))
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0)
      .filter(col("doc1") === 1 && col("doc2") === 2).first().getAs[Double]("jaccard")
    assert(math.abs(cands((1L, 2L)) - exact) < 0.3)
  }

  test("min-aggregate minhash signatures are bit-identical to the array kernel") {
    // the reference is written here, not taken from the library: one
    // xxhash64 per distinct shingle (Spark's seed 42), a splitmix64
    // finalize per permutation with seed (p+1)·φ, then the min per
    // permutation over the doc's exploded shingles. Doc 5 occurs on two
    // rows: its signature is that of the union of their shingles.
    val golden = 0x9E3779B97F4A7C15L
    def mix(h0: Long, seed: Long): Long = {
      var z = h0 ^ seed
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val perms = 16
    val permHashes = udf((h0: Long) => (1 to perms).map(p => mix(h0, p.toLong * golden)))
    val corpus = docs.unionByName(Seq(
      (5L, "one two three four five"), (5L, "six seven eight nine ten")).toDF("doc_id", "text"))
    val shingled = Dedup.shingles(corpus, "doc_id", "text", 3).distinct()
    val reference = shingled
      .select(col("doc_id"), posexplode(permHashes(xxhash64(col("shingle")))).as(Seq("p", "h")))
      .groupBy("doc_id", "p").agg(min("h").as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val viaKernel = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, perms)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(reference.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(viaKernel === reference)
  }

  test("simhash: identical texts at distance 0, near texts close, far texts blocked or distant") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(2L)) < java.lang.Long.bitCount(sh(1L) ^ sh(3L)))
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L)))
  }

  test("language id is deterministic and marker-driven") {
    val d = Seq((1L, "the cat is in the house"), (2L, "der hund ist ein tier"),
      (3L, "xyzzy qwerty")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextAnalysis.languageId(col("text")).as("g"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "en" && r(2L) == "de" && r(3L) == "und")
  }

  test("language id accuracy >= 90% on a planted-language corpus") {
    // the testdata `lang` column is uncorrelated with the text
    // (TESTDATA.md documents the generator defect), so accuracy is
    // pinned here on a corpus generated from per-language marker
    // distributions: each doc mixes its language's stopword markers at
    // a realistic ~25% rate into random filler, plus adversarial noise
    // (a couple of OTHER languages' markers). zh docs are unsegmented
    // character strings, exercising the no-whitespace path.
    val rng = new scala.util.Random(41)
    val latin = TextAnalysis.langMarkers.filter(_._1 != "zh")
    val zhMarkers = TextAnalysis.langMarkers.toMap.apply("zh")
    val zhFiller = "樹水火山石田月日口大小人天中上下左右"
    val docs = (0 until 500).map { i =>
      val (lang, markers) = TextAnalysis.langMarkers(i % TextAnalysis.langMarkers.size)
      val text =
        if (lang == "zh") {
          // ~40-char run of filler chars with several zh markers inside
          val chars = Seq.fill(40)(zhFiller(rng.nextInt(zhFiller.length)).toString)
          val withMarkers = chars.zipWithIndex.map { case (c, j) =>
            if (j % 9 == 0) zhMarkers(rng.nextInt(zhMarkers.size)) else c
          }
          withMarkers.mkString("")
        } else {
          val noise = latin.filter(_._1 != lang)
          Seq.fill(40) {
            val r = rng.nextInt(100)
            if (r < 25) markers(rng.nextInt(markers.size))              // own markers
            else if (r < 30) {                                          // foreign noise
              val (_, m) = noise(rng.nextInt(noise.size)); m(rng.nextInt(m.size))
            } else s"f${rng.nextInt(100000)}"                           // filler
          }.mkString(" ")
        }
      (i.toLong, lang, text)
    }.toDF("doc_id", "lang", "text")
    val scored = docs.select(col("lang"),
        (TextAnalysis.languageId(col("text")) === col("lang")).as("ok"))
      .collect()
    val acc = scored.count(_.getBoolean(1)).toDouble / scored.length
    assert(acc >= 0.9, f"langid accuracy $acc%.3f < 0.9")
    // per-language floor too — a dead class can hide inside a high mean
    scored.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      val a = rows.count(_.getBoolean(1)).toDouble / rows.length
      assert(a >= 0.8, f"langid accuracy for $lang: $a%.3f < 0.8")
    }
  }

  test("winnowing fingerprints: shared window minima overlap for near-dup docs") {
    val fp = TextAnalysis.fingerprints(docs, "text", "doc_id")
    val by = fp.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(by(1L) == by(4L))
    assert((by(1L) & by(2L)).nonEmpty)
    assert((by(1L) & by(3L)).isEmpty)
  }

  test("unigram LM score: hand-computed log-probs, gibberish scores lower") {
    val d = Seq((1L, "a a a"), (2L, "a z")).toDF("doc_id", "text")
    // corpus tokens: a×4, z×1 (total 5) → p(a)=0.8, p(z)=0.2
    val r = TextAnalysis.unigramLogProb(d, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r(1L) == ((3L, -0.2231)))            // ln(0.8)
    assert(r(2L) == ((2L, -0.9163)))            // (ln0.8 + ln0.2)/2
    assert(r(2L)._2 < r(1L)._2)                 // rare-token doc scores lower
  }

  test("vocab stats: exact counts; HLL approximation lands near the exact count") {
    val corpus = (1L to 50L).map(i => (i, (1 to 40).map(j => s"w${(i * 40 + j) % 300}").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = TextAnalysis.vocabStats(corpus, "text").first()
    assert(exact.getAs[Long]("n_tokens") == 2000L)
    assert(exact.getAs[Long]("n_types") == 300L) // ids cycle mod 300
    val approx = TextAnalysis.vocabStats(corpus, "text", approx = true).first()
    val est = approx.getAs[Long]("n_types").toDouble
    assert(math.abs(est - 300.0) / 300.0 < 0.1) // HLL default rsd 5%
  }

  test("quality features: counts and ratios") {
    val q = TextAnalysis.quality(docs, "text", "doc_id", Seq("the", "a", "of")).orderBy("doc_id").first()
    assert(q.getAs[Int]("n_words") == 9)
    assert(q.getAs[Double]("stop_ratio") == math.rint(2.0 / 9.0 * 10000) / 10000)
  }

  test("corpus pipeline: quality gate + exact + near-dup dedup") {
    val long = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, long),                       // kept
      (2L, long),                       // exact dup of 1 → dropped
      (3L, long + " tail"),             // near-dup of 1 → dropped
      (4L, "too short"),                // quality-gated
      (5L, (1 to 30).map(i => s"z$i").mkString(" ")) // distinct → kept
    ).toDF("doc_id", "text")
    val cleaned = graft.pipeline.CorpusPipeline.clean(corpus, "doc_id", "text",
      graft.pipeline.CorpusPipeline.Config(minWords = 20, estJaccard = 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(cleaned == Set(1L, 5L))
  }

  test("curation: hash split is deterministic and contamination counts overlapping shingles") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // contains benchmark 5-gram
      (11L, "one two three four five six seven")      // clean
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val c = graft.pipeline.Curation.contamination(corpus, bench, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(c(10L) == ((2L, 1L, 0.5)))  // 2 shingles, 1 overlaps
    assert(c(11L) == ((3L, 0L, 0.0)))
    val s1 = graft.pipeline.Curation.hashSplit(docs, "doc_id", 50)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = graft.pipeline.Curation.hashSplit(docs.repartition(3), "doc_id", 50)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2) // assignment depends only on content, not layout
  }

  test("curation: bloom contamination matches exact, stays an upper bound at high fpp") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven"),
      (12L, "alpha beta gamma delta epsilon completely different tail words here")
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = asMap(graft.pipeline.Curation.contamination(corpus, bench, "doc_id", "text", k = 5))
    val bloom = asMap(graft.pipeline.Curation.contaminationBloom(corpus, bench, "doc_id", "text", k = 5))
    assert(bloom == exact) // tight fpp: no FP on this corpus, never FN
    // deliberately terrible fpp → overlap may inflate but NEVER deflates
    // (a bloom has no false negatives), and sizes are untouched
    val loose = asMap(graft.pipeline.Curation.contaminationBloom(
      corpus, bench, "doc_id", "text", k = 5, fpp = 0.5))
    exact.foreach { case (id, (n, ov)) =>
      val (ln, lov) = loose(id)
      assert(ln == n && lov >= ov, s"doc $id: exact=($n,$ov) loose=($ln,$lov)")
    }
  }

  test("curation: per-row contamination equals the aggregated bloom path, batch and stream") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six seven"),
      (12L, "alpha beta gamma delta epsilon completely different tail words here"),
      (13L, "too short")                                  // < k words → no row
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val bloom = graft.pipeline.Curation.shingleBloom(bench, "text", k = 5)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap

    val agg = asMap(graft.pipeline.Curation.contaminationBloom(corpus, bench, "doc_id", "text", k = 5))
    val perRow = asMap(graft.pipeline.Curation.contaminationPerRow(corpus, bloom, "doc_id", "text", k = 5))
    assert(perRow == agg)
    assert(!perRow.contains(13L))

    // stateless per-row shape → legal in a stream with no watermark:
    // the ingest-time decontamination gate
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = graft.pipeline.Curation.contaminationPerRow(
        mem.toDF().toDF("doc_id", "text"), bloom, "doc_id", "text", k = 5)
      .writeStream.format("memory").queryName("decontam").outputMode("append").start()
    try {
      mem.addData((10L, "alpha beta gamma delta epsilon zeta"), (13L, "too short"))
      q.processAllAvailable()
      val out = spark.table("decontam").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(out == Map(10L -> agg(10L)))
    } finally q.stop()
  }

  test("survivors: min-label propagation resolves duplicate clusters") {
    // edges: 1-2, 2-5 (chain → component {1,2,5}), 7-8; 9 isolated
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 8L)).toDF("doc1", "doc2")
    val ids = Seq(1L, 2L, 5L, 7L, 8L, 9L).toDF("doc_id")
    val surv = Dedup.survivors(pairs, ids, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(surv == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("cosine topK exact vs LSH and IVF recall on fixture vectors") {
    val vecs = (0 until 30).map { i =>
      val base = Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") < 3)
    val exact = Cosine.topK(vecs, probes, "vec_id", "embedding", 3)
    assert(exact.count() == 9)
    // self-similarity excluded, cos ∈ [-1, 1]
    assert(exact.filter(col("probe_id") === col("neighbor_id")).count() == 0)
    assert(exact.filter(abs(col("cos")) > 1.0001).count() == 0)
    val e = exact.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Cosine.lshTopK(vecs, probes, "vec_id", "embedding", 3, bits = 8, bands = 4)
    val l = lsh.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((e & l).size >= 3) // banded LSH recalls a reasonable share
    val cents = Ivf.train(vecs, "vec_id", "embedding", k = 4, iters = 3)
    assert(cents.length == 4 && cents.forall(_.length == 8))
    val ivf = Ivf.topK(vecs, probes, "vec_id", "embedding", 3, cents, nprobe = 2)
    val iv = ivf.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((e & iv).size >= 4) // nprobe=2 of 4 lists recalls most
    // determinism: same seed/iters → same centroids
    val cents2 = Ivf.train(vecs, "vec_id", "embedding", k = 4, iters = 3)
    assert(cents.map(_.toSeq).toSeq == cents2.map(_.toSeq).toSeq)
  }

  test("IVFADC residual encoding: decomposed-LUT ADC equals brute-force residual distance") {
    // 40 vectors in 4 well-separated direction clusters of 10, one
    // probe per cluster. Pinned: (1) shape, no self-match and recall
    // against exact cosine, (2) the emitted residual ADC equals a
    // driver-side brute-force ‖(q−C_cell) − cb(codes)‖² recompute
    // (pins the A/D/bias decomposition end-to-end through the kernel),
    // (3) training determinism, (4) refined invariants
    val vecs = (0 until 40).map { i =>
      val cl = i % 4
      val v = Array.tabulate(8)(j =>
        (math.sin(cl * 2.1 + j) + 0.01 * math.cos(i * 0.9 + j)).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") < 4)
    val exact = Cosine.topK(vecs, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // trainCoarse: the documented space contract for Pq.topK (cells
    // are assigned from normalized vectors, so the matrix must be
    // trained on them — the fixture vectors are NOT unit-norm)
    val coarse = Pq.trainCoarse(vecs, "vec_id", "embedding", k = 4, iters = 3)
    val cbs = Pq.trainCodebooks(vecs, "vec_id", "embedding", coarse,
      m = 4, ksub = 8, iters = 3)
    assert(cbs.length == 4 && cbs.forall(cb => cb.length == 8 && cb.forall(_.length == 2)))
    // determinism: residual training inherits the hash-ordered init
    val cbs2 = Pq.trainCodebooks(vecs, "vec_id", "embedding", coarse,
      m = 4, ksub = 8, iters = 3)
    assert(cbs.map(_.map(_.toSeq).toSeq).toSeq == cbs2.map(_.map(_.toSeq).toSeq).toSeq)

    val out = Pq.topK(vecs, probes, "vec_id", "embedding", 5, coarse, cbs, nprobe = 2)
      .collect()
    // shape: k rows per probe, ranks 1..k, adc ascending, no self
    assert(out.length == 20)
    assert(out.forall(r => r.getLong(0) != r.getLong(2)), "self-match must be excluded")
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      val adcs = sorted.map(_.getDouble(3))
      assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b }, "adc must ascend with rank")
      // residual ADC is a true squared distance of real vectors
      assert(adcs.forall(a => a >= -1e-9), "squared distance cannot be negative")
    }
    // recall: the quantized path finds most of the exact top-5
    val got = out.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((exact & got).size >= 12, s"IVFADC recall too low: ${(exact & got).size}/20")
    val top1 = out.filter(r => r.getLong(0) == 0L && r.getInt(1) == 1).head
    assert(top1.getDouble(3) < 2.0, "nearest same-cluster neighbor should be close on the unit sphere")

    // brute-force anchor: recompute every emitted adc on the driver
    // from first principles — normalize, assign cell (ties to lower
    // id), residual, per-subspace code argmin (ties to lower id),
    // then the DIRECT ‖(q − C) − cb(codes)‖², no decomposition
    def norm(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val raw = vecs.collect().map(r =>
      r.getLong(0) -> norm(r.getSeq[Float](1).map(_.toDouble).toArray)).toMap
    def nearestCell(v: Array[Double]): Int =
      coarse.indices.minBy(c => {
        val d = v.zip(coarse(c)).map { case (a, b) => a - b }.map(x => x * x).sum
        (d, c)
      })
    def codesOf(res: Array[Double]): Array[Int] =
      Array.tabulate(4) { j =>
        val s = res.slice(j * 2, j * 2 + 2)
        cbs(j).indices.minBy(c => {
          val d = s.zip(cbs(j)(c)).map { case (a, b) => a - b }.map(x => x * x).sum
          (d, c)
        })
      }
    out.foreach { r =>
      val (pid, nid, emitted) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      val q = raw(pid)
      val cell = nearestCell(raw(nid))
      val res = raw(nid).zip(coarse(cell)).map { case (a, b) => a - b }
      val codes = codesOf(res)
      val qres = q.zip(coarse(cell)).map { case (a, b) => a - b }
      val expected = (0 until 4).map { j =>
        qres.slice(j * 2, j * 2 + 2).zip(cbs(j)(codes(j)))
          .map { case (a, b) => a - b }.map(x => x * x).sum
      }.sum
      assert(math.abs(expected - emitted) < 1e-5,
        s"probe $pid neighbor $nid: brute-force $expected vs emitted $emitted")
    }

    // refined: ADC prunes, exact cosine re-ranks — output schema
    // matches Ivf.topK, every returned pair must be drawn from the
    // ADC candidate pool, and recall cannot drop below ADC's
    val refined = Pq.topKRefined(vecs, probes, "vec_id", "embedding", 5,
      coarse, cbs, nprobe = 2, kCand = 15)
    assert(refined.columns.toSeq == Seq("probe_id", "rank", "neighbor_id", "cos"))
    val rf = refined.collect()
    assert(rf.length == 20 && rf.forall(r => r.getLong(0) != r.getLong(2)))
    rf.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5))
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "cos must descend with rank")
      assert(cs.forall(c => c >= -1.0001 && c <= 1.0001))
    }
    val gotR = rf.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((exact & gotR).size >= (exact & got).size,
      s"refined recall ${(exact & gotR).size} fell below ADC ${(exact & got).size}")
    val pool = Pq.topK(vecs, probes, "vec_id", "embedding", 15, coarse, cbs, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(gotR.subsetOf(pool), "refined results must come from the ADC candidate pool")
  }

  test("refine guard: over-budget |probes|*kCand fails loudly, naming the knobs") {
    // the broadcast pin removes the optimizer's size fallback, so the
    // over-budget case must be a graft-shaped error naming kCand and
    // the probe-batch split, not a generic broadcast OOM. The bound is
    // 32,000,000 candidate rows: 4 probes x 8,000,000 sits exactly on it
    val vecs = (0 until 40).map { i =>
      val v = Array.tabulate(8)(j => (math.sin(i * 1.3 + j) + 1.5).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") < 4)
    val coarse = Pq.trainCoarse(vecs, "vec_id", "embedding", k = 4, iters = 2)
    val cbs = Pq.trainCodebooks(vecs, "vec_id", "embedding", coarse,
      m = 4, ksub = 8, iters = 2)
    val ex = intercept[IllegalArgumentException] {
      // 4 probes x kCand=8,000,001 = 32,000,004 rows > the bound
      Pq.topKRefined(vecs, probes, "vec_id", "embedding", 5,
        coarse, cbs, nprobe = 2, kCand = 8000001)
    }
    assert(ex.getMessage.contains("kCand=8000001"), ex.getMessage)
    assert(ex.getMessage.contains("32000004 candidate rows"), ex.getMessage)
    assert(ex.getMessage.contains("split the probe slice into batches"), ex.getMessage)
    // exactly at the bound passes: the guard is <=, not <
    val ok = Pq.topKRefined(vecs, probes, "vec_id", "embedding", 5,
      coarse, cbs, nprobe = 2, kCand = 8000000)
    assert(ok.count() > 0)
  }

  test("train-on-sample: deterministic, bounded, and fails loudly when the sample can't seat k") {
    val vecs = spark.range(2500).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 8), i -> cast(pmod(xxhash64(id, i), 1000) as double) / 1000.0)")
        .as("embedding"))
    // bounded: the hash filter reads ~maxTrainRows of 2500 (binomial
    // jitter documented; assert the order of magnitude, not the count)
    val sampled = Ivf.trainSample(vecs, "vec_id", 500L)
    val n = sampled.count()
    assert(n > 300 && n < 700, s"sample size $n far from requested 500")
    // determinism: the sample is a pure hash filter — two trainings
    // from the same data and params produce identical centroids
    val a = Ivf.train(vecs, "vec_id", "embedding", k = 8, iters = 2, maxTrainRows = 500L)
    val b = Ivf.train(vecs, "vec_id", "embedding", k = 8, iters = 2, maxTrainRows = 500L)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // sampled codebooks: same determinism through the PQ trainer, and
    // a sampled-trained index still searches (shape invariants hold)
    val coarse = Pq.trainCoarse(vecs, "vec_id", "embedding", k = 4, iters = 2,
      maxTrainRows = 500L)
    val cb1 = Pq.trainCodebooks(vecs, "vec_id", "embedding", coarse, m = 4, ksub = 8,
      iters = 2, maxTrainRows = 500L)
    val cb2 = Pq.trainCodebooks(vecs, "vec_id", "embedding", coarse, m = 4, ksub = 8,
      iters = 2, maxTrainRows = 500L)
    assert(cb1.map(_.map(_.toSeq).toSeq).toSeq == cb2.map(_.map(_.toSeq).toSeq).toSeq)
    val out = Pq.topK(vecs, vecs.filter(col("vec_id") < 3), "vec_id", "embedding",
      5, coarse, cb1, nprobe = 2).collect()
    assert(out.length == 15 && out.forall(r => r.getLong(0) != r.getLong(2)))
    // maxTrainRows below k: the init require must fire, not silently
    // return fewer centroids
    val ex = intercept[IllegalArgumentException] {
      Ivf.train(vecs, "vec_id", "embedding", k = 2000, iters = 1, maxTrainRows = 40L)
    }
    assert(ex.getMessage.contains("maxTrainRows"))
  }

  test("minhash candidates vs exact ground truth on a planted-dup corpus") {
    // real fixture text + planted exact copies: J=1 pairs have
    // identical shingle sets, hence identical signatures and band
    // keys — LSH recall on them is a theorem, not luck
    val base = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").limit(120)
    val planted = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(planted)
    val cands = Dedup.minhashCandidates(corpus, "doc_id", "text",
        k = 3, perms = 32, bands = 8, threshold = 0.4).collect()
    val candSet = cands.map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact ground truth: direct shingle self-join, all pairs
    val exactPairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", k = 3, threshold = 0.01)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("jaccard"))).toMap
    // recall: every true J = 1 pair is a candidate
    val j1 = exactPairs.filter(_._2 >= 0.9999).keySet
    assert(j1.nonEmpty, "fixture produced no planted J=1 pairs")
    assert(j1.subsetOf(candSet), s"missed exact-dup pairs: ${(j1 -- candSet).take(5)}")
    // precision: every candidate's ESTIMATE is within the 32-perm
    // deviation bound of its true jaccard (no phantom pairs: a
    // candidate with est ≥ 0.4 must have real overlap)
    cands.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val est = r.getAs[Double]("est_jaccard")
      val truth = exactPairs.getOrElse(key, 0.0)
      assert(math.abs(est - truth) <= 0.35, s"pair $key est=$est true=$truth")
      assert(truth >= 0.05, s"phantom candidate $key est=$est true=$truth")
    }
  }

  test("simhash candidates vs brute-force hamming on a planted-dup corpus") {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").limit(120)
    val planted = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(planted)
    val sigs = Dedup.simhash(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cands = Dedup.simhashCandidates(corpus, "doc_id", "text", maxHamming = 12)
      .collect()
    // reported distances are the true brute-force hamming distances
    cands.foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      val h = java.lang.Long.bitCount(sigs(d1) ^ sigs(d2))
      assert(r.getAs[Number]("hamming").intValue() == h && h <= 12)
    }
    val candSet = cands.map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall theorem: 4 blocks of 16 bits and ≤ 3 flipped bits leave
    // at least one block identical (pigeonhole) — every such pair MUST
    // be a candidate; planted copies are hamming 0
    val ids = sigs.keys.toSeq.sorted
    val mustFind = for {
      i <- ids; j <- ids if i < j
      if java.lang.Long.bitCount(sigs(i) ^ sigs(j)) <= 3
    } yield (i, j)
    assert(mustFind.nonEmpty, "fixture produced no hamming<=3 pairs")
    assert(mustFind.toSet.subsetOf(candSet),
      s"missed guaranteed-recall pairs: ${(mustFind.toSet -- candSet).take(5)}")
  }

  test("duplicate spans: hand-computed interval merge, self-repeats count, uniques drop out") {
    // doc 1 and 2 share the 4-gram "p q r s" (positions 0 in both);
    // doc 3 repeats ITS OWN phrase "x y z w" twice (corpus count 2);
    // doc 4 is all-unique → no row
    val corpus = Seq(
      (1L, "p q r s a b c d e f"),
      (2L, "m n p q r s k l t u"),
      (3L, "x y z w g h x y z w"),
      (4L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val r = Dedup.duplicateSpans(corpus, "doc_id", "text", k = 4, minCount = 2)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(4L))
    // doc 1: dup 4-gram at pos 0 → one span of 4 tokens over 10
    assert(r(1).getAs[Long]("dup_tokens") == 4 && r(1).getAs[Long]("n_spans") == 1)
    assert(r(1).getAs[Double]("dup_fraction") == 0.4)
    // doc 2: same 4-gram at pos 2 → 4 of 10
    assert(r(2).getAs[Long]("dup_tokens") == 4 && r(2).getAs[Long]("n_spans") == 1)
    // doc 3: "x y z w" at pos 0 and 6 — gap 6 > k → TWO spans, 8 of 10
    assert(r(3).getAs[Long]("dup_tokens") == 8 && r(3).getAs[Long]("n_spans") == 2)
    assert(r(3).getAs[Double]("dup_fraction") == 0.8)
    // overlapping occurrences merge into one span: "a a a a a a" with
    // k=4 has dup 4-grams at pos 0,1,2 (each occurs 3 times) → one
    // span covering all 6 tokens
    val self = Seq((9L, "a a a a a a")).toDF("doc_id", "text")
    val rs = Dedup.duplicateSpans(self, "doc_id", "text", k = 4, minCount = 2)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(rs(9L).getAs[Long]("dup_tokens") == 6 && rs(9L).getAs[Long]("n_spans") == 1)
    assert(rs(9L).getAs[Double]("dup_fraction") == 1.0)
  }

  test("removeDuplicateSpans cuts exactly the merged spans, passes clean docs verbatim") {
    val corpus = Seq(
      (1L, "p q r s a b c d e f"),
      (2L, "m n p q r s k l t u"),
      (3L, "x y z w g h x y z w"),
      (4L, "one  two\tthree four five six seven eight nine") // odd whitespace kept verbatim
    ).toDF("doc_id", "text")
    val r = Dedup.removeDuplicateSpans(corpus, "doc_id", "text", k = 4, minCount = 2)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1).getAs[String]("text") == "a b c d e f" && r(1).getAs[Long]("n_removed") == 4)
    assert(r(2).getAs[String]("text") == "m n k l t u" && r(2).getAs[Long]("n_removed") == 4)
    assert(r(3).getAs[String]("text") == "g h" && r(3).getAs[Long]("n_removed") == 8)
    // untouched doc: original text BYTES, not a re-join
    assert(r(4).getAs[String]("text") == "one  two\tthree four five six seven eight nine")
    assert(r(4).getAs[Long]("n_removed") == 0)
    // a fully-duplicated doc empties out
    val self = Seq((9L, "a a a a a a")).toDF("doc_id", "text")
    val rs = Dedup.removeDuplicateSpans(self, "doc_id", "text", k = 4, minCount = 2)
      .collect().head
    assert(rs.getAs[String]("text") == "" && rs.getAs[Long]("n_removed") == 6)
  }

  test("leakage-safe split: near-dup families share a side, singletons match hashSplit") {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").limit(100)
    // planted exact copies → guaranteed same-cluster (J=1 recall is a
    // theorem through the band join)
    val planted = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val corpus = base.unionByName(planted)
    val split = graft.pipeline.Curation.leakageSafeSplit(
        corpus, "doc_id", "text", holdoutPct = 30, threshold = 0.7)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("survivor"), r.getAs[String]("split"))).toMap
    assert(split.size == corpus.count())
    // every planted copy sits with its original — same cluster, same side
    val withTokens = base.filter(col("doc_id") % 4 === 0)
      .filter(size(graft.text.TextAnalysis.words(col("text"))) >= 3)
      .select("doc_id").collect().map(_.getLong(0))
    assert(withTokens.nonEmpty)
    withTokens.foreach { id =>
      assert(split(id)._1 == split(id + 1000000L)._1, s"doc $id cluster differs from its copy")
      assert(split(id)._2 == split(id + 1000000L)._2, s"doc $id split differs from its copy")
    }
    // a doc in no near-dup pair is its own survivor → identical to the
    // per-document hashSplit decision
    val singletons = split.filter { case (id, (surv, _)) => surv == id }
    val hs = graft.pipeline.Curation.hashSplit(corpus, "doc_id", 30)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    singletons.foreach { case (id, (_, s)) => assert(hs(id) == s) }
  }

  test("IVF at production k: broadcast-matrix kernel trains k=1024 and pins recall@10") {
    // the literal-centroid formulation this replaced would put 1024
    // array literals into the plan and break codegen here; the kernel
    // must plan one node and stay correct
    val vecs = spark.range(2500).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 12), i -> cast(pmod(xxhash64(id, i), 1000) as double) / 1000.0)")
        .as("embedding"))
    val cents = Ivf.train(vecs, "vec_id", "embedding", k = 1024, iters = 2)
    assert(cents.length == 1024 && cents.forall(_.length == 12))
    val probes = vecs.filter(col("vec_id") < 10)
    val ivf = Ivf.topK(vecs, probes, "vec_id", "embedding", 10, cents, nprobe = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Cosine.topK(vecs, probes, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // hash-uniform vectors are the adversarial case for IVF (no real
    // cluster structure); probing 64 of 1024 lists must still recall
    // a solid share of the true top-10 — pinned so kernel regressions
    // (wrong argmin, off-by-one in the flat matrix) surface as recall
    // collapse, not silence
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@10 collapsed: $recall")
  }
}
