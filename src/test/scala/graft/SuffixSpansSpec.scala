package graft

import graft.dedup.{Dedup, SuffixSpans}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Suffix-array repeat extents (SURVEY.md §2 #43e/#43f) pinned against
  * a driver-side brute-force reference written here, against the k-gram
  * span pipeline, and against hand-computed ground truth:
  *  - every fixture's extents equal the brute force: per position, the
  *    max LCP against every other position (any doc, including its
  *    own), kept when ≥ minLen;
  *  - spans derived from the extents in this spec equal
  *    `Dedup.duplicateSpans` at the same threshold (independent
  *    constructions, both exact at token granularity);
  *  - the maximal passages surface verbatim, longest first.
  */
class SuffixSpansSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  /** Deterministic corpus over a large vocab (accidental k-gram dups
    * vanishingly unlikely) with planted shared phrases of lengths 5,
    * 11 and 23 — non-multiples of k on purpose — plus a same-doc
    * self-repeat. */
  private def planted(): DataFrame = {
    val rng = new scala.util.Random(37)
    def w() = s"w${rng.nextInt(100000)}_${rng.nextInt(100000)}"
    def run(n: Int) = Seq.fill(n)(w())
    val p5 = run(5); val p11 = run(11); val p23 = run(23)
    val docs = Seq(
      (1L, (run(7) ++ p11 ++ run(9)).mkString(" ")),
      (2L, (run(3) ++ p11 ++ run(4) ++ p5).mkString(" ")),
      (3L, (p23 ++ run(6) ++ p5 ++ run(2)).mkString(" ")),
      (4L, (run(12) ++ p23 ++ run(1)).mkString(" ")),
      // self-repeat: the same 9-gram twice within one document
      {
        val s = run(9)
        (5L, (s ++ run(5) ++ s ++ run(3)).mkString(" "))
      },
      (6L, run(40).mkString(" ")),
      // shares ONLY the 5-token phrase — invisible to any k >= 6 pipeline
      (7L, (run(6) ++ p5 ++ run(7)).mkString(" "))
    )
    docs.toDF("doc_id", "text")
  }

  // (doc_id, n_tokens, pos, dup_len); doc_id is whatever type the
  // fixture uses (long or string)
  private type Ext = Set[(Any, Long, Int, Long)]

  private def extents(df: DataFrame, minLen: Int): Ext = {
    val got = SuffixSpans.repeatExtents(df, "doc_id", "text", minLen).collect()
      .map(r => (r.get(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    Dedup.releaseCaches()
    got
  }

  /** Brute-force reference: dup_len(doc, pos) = the longest common
    * prefix of the suffix at (doc, pos) with the suffix at any OTHER
    * position (any doc, including the same one), capped by both
    * remainders; kept when ≥ minLen. Tokens split on whitespace like
    * `TextAnalysis.words`. */
  private def bruteExtents(df: DataFrame, minLen: Int): Ext = {
    val docs = df.select("doc_id", "text").collect()
      .map(r => r.get(0) -> r.getString(1).split("\\s+").filter(_.nonEmpty))
    val sites = for ((d, di) <- docs.zipWithIndex.toSeq; p <- d._2.indices) yield (di, p)
    def lcp(a: Array[String], i: Int, b: Array[String], j: Int): Int = {
      var l = 0
      while (i + l < a.length && j + l < b.length && a(i + l) == b(j + l)) l += 1
      l
    }
    sites.flatMap { case (di, p) =>
      val (id, ws) = docs(di)
      val best = sites.iterator.filter(_ != ((di, p)))
        .map { case (dj, q) => lcp(ws, p, docs(dj)._2, q) }.maxOption.getOrElse(0)
      if (best >= minLen) Some((id, ws.length.toLong, p, best.toLong)) else None
    }.toSet
  }

  private type Spans = Set[(Any, Long, Long, Long, Double)]

  /** Per-doc merged coverage of the extents — (doc_id, n_tokens,
    * dup_tokens, n_spans, dup_fraction), the `duplicateSpans` shape:
    * a position covers [pos, pos + dup_len − 1], and ranges that
    * overlap or touch merge into one span. */
  private def spansOf(ext: Ext): Spans =
    ext.groupBy(_._1).map { case (id, rows) =>
      val n = rows.head._2
      val islands = rows.toSeq.sortBy(_._3).foldLeft(List.empty[(Long, Long)]) {
        case (acc, (_, _, pos, len)) =>
          val end = pos + len - 1
          acc match {
            case (s, e) :: rest if pos <= e + 1 => (s, math.max(e, end)) :: rest
            case _ => (pos.toLong, end) :: acc
          }
      }
      val dup = islands.map { case (s, e) => e - s + 1 }.sum
      (id, n, dup, islands.size.toLong,
        BigDecimal(dup.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet

  private def kgramSpans(df: DataFrame, k: Int): Spans =
    Dedup.duplicateSpans(df, "doc_id", "text", k = k, minCount = 2)
      .select("doc_id", "n_tokens", "dup_tokens", "n_spans", "dup_fraction")
      .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet

  test("SA spans == k-gram spans at the same threshold (independent constructions)") {
    val df = planted()
    for (minLen <- Seq(8, 5)) {
      val ext = extents(df, minLen)
      assert(ext === bruteExtents(df, minLen), s"minLen $minLen")
      val sa = spansOf(ext)
      assert(sa.nonEmpty)
      assert(sa === kgramSpans(df, minLen), s"minLen $minLen")
    }
  }

  test("SA spans == k-gram spans on the real documents fixture") {
    val docs = Tables.documents(spark, sf)
    // 8 is q_dup_passages' width; 5 is q_dup_spans_sa's, which now runs
    // the k-gram pipeline on the strength of this equality
    for (minLen <- Seq(8, 5))
      assert(spansOf(extents(docs, minLen)) === kgramSpans(docs, minLen), s"minLen $minLen")
  }

  test("below the k-gram width: minLen=5 finds the planted 5-token duplicate k=8 misses") {
    // a repeat of length >= k is covered exactly when a repeated k-gram
    // covers it, so the k-gram width IS the minimum repeat length: doc 7
    // shares ONLY a 5-token phrase (with docs 2 and 3), which k = 5
    // sees and k = 8 cannot
    val df = planted()
    def docsAt(k: Int) = Dedup.duplicateSpans(df, "doc_id", "text", k = k, minCount = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val at8 = docsAt(8)
    val at5 = docsAt(5)
    assert(!at8.contains(7L), "k=8 must not see the 5-token duplicate")
    assert(at5.contains(7L), "k=5 must see the 5-token duplicate")
    assert(at8.subsetOf(at5))
  }

  test("repeatExtents: exact extents on a hand-computed fixture (boundaries, self-repeat, overlap)") {
    val df = Seq(
      (1L, "u1 u2 d1 d2 d3 d4 d5 x9"),   // planted run at pos 2..6
      (2L, "v1 d1 d2 d3 d4 d5 v2 v3"),   // planted run at pos 1..5
      (3L, "r r r r r r")                // overlapping self-repeat
    ).toDF("doc_id", "text")
    val got = extents(df, 3)
    assert(got === bruteExtents(df, 3))
    val ext = got.map { case (id, _, pos, len) => (id, pos) -> len }.toMap
    // doc1: suffix at pos 2 shares exactly d1..d5 (5 tokens) with doc2
    assert(ext((1L, 2)) == 5L)
    assert(ext((2L, 1)) == 5L)
    // interior positions share the tail of the run
    assert(ext((1L, 3)) == 4L && ext((1L, 4)) == 3L)
    assert(!ext.contains((1L, 5))) // "d4 d5 x9" shares only 2 tokens — under minLen
    // "r"*6: suffix 0 vs suffix 1 share 5
    assert(ext((3L, 0)) == 5L)
    assert(ext((3L, 3)) == 3L)
    val spans3 = spansOf(got).map(s => s._1 -> (s._3, s._4)).toMap
    assert(spans3(1L) == (5L, 1L)) // dup_tokens = 5, one span
    assert(spans3(2L) == (5L, 1L))
    assert(spans3(3L) == (6L, 1L)) // the whole run is duplicated coverage
    assert(spansOf(got) === kgramSpans(df, 3))
  }

  // the width-8 base rank keys round 0 on the raw 8-token slice;
  // array/NUL-joined order is shorter-prefix-first, which IS
  // finite-suffix order, so suffixes within 8 tokens of their doc end
  // (keys shorter than the width) still sort exactly. Both corpora mix a
  // LONG document with no qualifying repeat (the round gate must stop on
  // the pending set's remaining length, not this doc's) with short docs
  // carrying the repeats, one of which runs to its doc's final token
  // (absent partners).
  test("repeatExtents == brute force: doc-final phrase, long repeat-free doc, short doc") {
    val rng = new scala.util.Random(53)
    def w() = s"b${rng.nextInt(100000)}_${rng.nextInt(100000)}"
    def run(n: Int) = Seq.fill(n)(w())
    val p6 = run(6)
    val df = Seq(
      (1L, run(300).mkString(" ")),                 // long, repeat-free
      (2L, (run(4) ++ p6).mkString(" ")),           // phrase ends the doc
      (3L, (p6 ++ run(3)).mkString(" ")),
      (4L, "e1 e2 e3")                              // shorter than minLen
    ).toDF("doc_id", "text")
    val got = extents(df, 4)
    assert(got === bruteExtents(df, 4))
    // the extents are the planted truth: the full 6-token phrase
    assert(got.exists { case (id, _, pos, len) => id == 2L && pos == 4 && len == 6L })
    assert(got.exists { case (id, _, pos, len) => id == 3L && pos == 0 && len == 6L })
    assert(!got.exists { case (id, _, _, _) => id == 1L || id == 4L })
    // two docs only: a 60-token doc carrying a 6-token phrase mid-doc,
    // and a 12-token doc carrying it at pos 3
    val phrase = run(6)
    val big = (run(20) ++ phrase ++ run(34)).mkString(" ")
    val small = (run(3) ++ phrase ++ run(3)).mkString(" ")
    val pair = Seq((1L, big), (2L, small)).toDF("doc_id", "text")
    val truth = bruteExtents(pair, 4)
    assert(truth.exists { case (id, _, pos, len) => id == 1L && pos == 20 && len == 6L })
    assert(extents(pair, 4) === truth)
  }

  test("repeatExtents == brute force: 37-token phrase past the base width, proper prefix") {
    // the 37-token phrase needs doubling rounds past the base width
    // (spans 8 → 16 → 32 → 64); doc 3 holds a strict prefix of it
    val rng = new scala.util.Random(67)
    def w() = s"a${rng.nextInt(100000)}_${rng.nextInt(100000)}"
    def run(n: Int) = Seq.fill(n)(w())
    val p37 = run(37)
    val df = Seq(
      (1L, (run(5) ++ p37 ++ run(4)).mkString(" ")),
      (2L, (run(2) ++ p37).mkString(" ")),          // phrase ends the doc
      (3L, (p37.take(13) ++ run(6)).mkString(" ")), // proper prefix of the repeat
      (4L, run(200).mkString(" ")),                 // long, repeat-free
      (5L, "z1 z2")                                 // shorter than minLen
    ).toDF("doc_id", "text")
    val got = extents(df, 4)
    assert(got === bruteExtents(df, 4))
    // doc1 pos 5 and doc2 pos 2 share the full 37 tokens
    assert(got.exists { case (id, _, pos, len) => id == 1L && pos == 5 && len == 37L })
    assert(got.exists { case (id, _, pos, len) => id == 2L && pos == 2 && len == 37L })
    // doc3's 13-token prefix matches the phrase hosts exactly
    assert(got.exists { case (id, _, pos, len) => id == 3L && pos == 0 && len == 13L })
    assert(!got.exists { case (id, _, _, _) => id == 4L || id == 5L })
  }

  test("slow-decay corpus (75% pending after round 0) == brute force") {
    // every doc shares a 40-token boilerplate prefix + a 4-token unique
    // tail, so after the width-8 round 0 three quarters of the positions
    // are still ambiguous (33 of 44 per doc), and the refinement rounds
    // at spans 8, 16 and 32 start from 75%, 57% and 20% of the corpus
    // pending: each round's partner lookup probes a corpus-sized rank
    // view with a corpus-sized pending side
    val rng = new scala.util.Random(83)
    def w() = s"s${rng.nextInt(100000)}_${rng.nextInt(100000)}"
    val shared = Seq.fill(40)(w())
    val df = (1L to 12L).map { i =>
      (i, (shared ++ Seq.fill(4)(w())).mkString(" "))
    }.toDF("doc_id", "text")
    val got = extents(df, 4)
    assert(got === bruteExtents(df, 4))
    // the 40-token shared prefix must surface in the extents
    assert(got.exists { case (_, _, pos, len) => pos == 0 && len == 40L })
  }

  test("string doc ids key every step of the build (id order unlike hash order)") {
    // the build keys its doubling loop, SA adjacency and LCP steps on
    // the caller's id itself, so a string id must rank, pair and
    // resolve exactly like a long one. The ids' lexicographic order
    // differs from their xxhash64 order, so nothing can rely on the ids
    // sorting like a hash surrogate would.
    import org.apache.spark.sql.functions.{col, xxhash64}
    val rng = new scala.util.Random(71)
    def w() = s"t${rng.nextInt(100000)}_${rng.nextInt(100000)}"
    def run(n: Int) = Seq.fill(n)(w())
    val p7 = run(7); val p19 = run(19)
    val df = Seq(
      ("zeta", (run(5) ++ p19 ++ run(2)).mkString(" ")),
      ("alpha", (p19 ++ run(3) ++ p7).mkString(" ")),   // both phrases, p7 doc-final
      ("Mu-7", (run(4) ++ p7 ++ run(6) ++ p7).mkString(" ")), // self-repeat
      ("beta", (p19.take(11) ++ run(8)).mkString(" ")), // proper prefix of p19
      ("omega", run(30).mkString(" "))                  // repeat-free
    ).toDF("doc_id", "text")
    val ids = df.select(col("doc_id"), xxhash64(col("doc_id")).as("h")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(ids.sortBy(_._1).map(_._1).toSeq != ids.sortBy(_._2).map(_._1).toSeq,
      "fixture premise: id order must differ from hash order")
    for (minLen <- Seq(4, 8)) {
      val got = extents(df, minLen)
      assert(got === bruteExtents(df, minLen), s"minLen $minLen")
      assert(got.exists { case (id, _, pos, len) => id == "alpha" && pos == 0 && len == 19L })
      assert(got.exists { case (id, _, pos, len) => id == "beta" && pos == 0 && len == 11L })
      assert(!got.exists(_._1 == "omega"))
    }
  }

  test("NUL-containing tokens route to the array base key (no separator collisions)") {
    // the binary base key joins slice keys with chr(0); a corpus whose
    // tokens can contain NUL must fall back to the array form. The
    // fixture is the exact collision the separator argument would
    // otherwise break on: the token "a\u0000b" vs the token PAIR
    // "a","b" - their NUL-joined slice keys are byte-identical
    // ("a\0b\0p1\0p2\0p3" both), so a broken binary route would merge
    // the two distinct suffix classes and emit a false dup_len=4 for
    // both positions. The true answer is EMPTY (no >=4-token repeat).
    val df = Seq(
      (1L, "x1 x2 a\u0000b p1 p2 p3"),
      (3L, "w1 a b p1 p2 p3")
    ).toDF("doc_id", "text")
    val ext = extents(df, 4)
    assert(ext.isEmpty, ext.mkString(", "))
    assert(ext === bruteExtents(df, 4))
  }

  test("exact-duplicate collapse: copies get closed-form full-suffix " +
      "extents; a repeat realized only against copies is still found") {
    val rng = new scala.util.Random(41)
    def w() = s"d${rng.nextInt(100000)}_${rng.nextInt(100000)}"
    def run(n: Int) = Seq.fill(n)(w())
    val p9 = run(9)
    // 16 tokens, planted phrase at offset 4; duplicated EIGHTY times —
    // enough that the 10% sampled router deterministically routes this
    // corpus to the collapse path (the point of the test; the direct
    // path is exact too and covered by every other suite test)
    val dupText = (run(4) ++ p9 ++ run(3)).mkString(" ")
    val copyIds = (10L until 90L).toSeq
    // unique doc sharing ONLY p9 — its repeat partner is a duplicated
    // text, so the match must survive the representative collapse
    val uniq = (run(5) ++ p9 ++ run(6)).mkString(" ")
    val lone = run(20).mkString(" ")
    val df = (copyIds.map(_ -> dupText) ++ Seq(200L -> uniq, 300L -> lone))
      .toDF("doc_id", "text")
    val got = extents(df, 8)
    assert(got === bruteExtents(df, 8))
    val ext = got.map { case (id, _, pos, len) => (id, pos) -> len }.toMap
    // every copy (INCLUDING the representative): dup_len(pos) = 16 - pos
    // for pos 0..8 — the full remaining suffix repeats in a twin
    for (id <- copyIds; pos <- 0 to 8)
      assert(ext((id, pos)) == 16L - pos, s"copy $id pos $pos")
    assert(!ext.keys.exists { case (id, pos) => copyIds.contains(id) && pos > 8 })
    // unique doc: exactly the p9 window (pos 5 len 9, pos 6 len 8)
    assert(ext.filter(_._1._1 == 200L) == Map((200L, 5) -> 9L, (200L, 6) -> 8L))
    // lone doc: nothing
    assert(!ext.keys.exists(_._1 == 300L))
    // and the derived spans still agree with the independent k-gram
    // construction on a corpus with exact copies
    val sa = spansOf(got)
    assert(sa.nonEmpty && sa === kgramSpans(df, 8))
  }

  test("longestPassages: the planted phrases surface verbatim, longest first") {
    val df = planted()
    val top = SuffixSpans.longestPassages(df, "doc_id", "text", minLen = 5, topN = 10)
      .collect()
    assert(top.nonEmpty)
    // the longest repeat is the 23-token phrase; it must lead and its
    // text must be exactly the planted passage from both hosting docs
    val lens = top.map(_.getAs[Long]("dup_len"))
    assert(lens.head == 23L, s"expected 23-token passage first, got ${lens.head}")
    assert(lens.sorted.reverse.sameElements(lens), "not ordered by dup_len desc")
    val p23Texts = top.filter(_.getAs[Long]("dup_len") == 23L)
      .map(_.getAs[String]("passage")).toSet
    assert(p23Texts.size == 1, s"both occurrences must yield the same passage: $p23Texts")
    assert(p23Texts.head.split(" ").length == 23)
  }

  test("longestPassages reads no cached tokenized corpus (slices the top-N texts)") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.types.ArrayType
    val passages = SuffixSpans.longestPassages(planted(), "doc_id", "text", minLen = 5, topN = 10)
    // the extents build caches its own tokenized corpus while it runs;
    // the returned frame must not read that cache or one of its own
    val tokenized = passages.queryExecution.withCachedData.collect {
      case r: InMemoryRelation if r.output.exists(_.dataType.isInstanceOf[ArrayType]) => r
    }
    try assert(tokenized.isEmpty, s"passages read a cached tokenized corpus: $tokenized")
    finally Dedup.releaseCaches()
  }
}
