package graft

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.survivors` against a driver-side union-find reference, on the
  * shapes that break label propagation: chains over random
  * permutations of the ids (diameter n, no id order to exploit),
  * stars, random trees, many cliques, string ids and an empty pair
  * set. Every shape runs under both routes, forced through
  * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 turns the driver route
  * off), and the route counters must show the route that ran. */
class SurvivorsPropertySpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  /** Union-find reference: id → least id of its component (ids that
    * appear in no edge are their own survivor). */
  private def reference(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // root = least id
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  private def run(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val pairs = edges.toDF("doc1", "doc2")
    val ids = (0L until n.toLong).toDF("doc_id")
    val rows = Dedup.survivors(pairs, ids, "doc_id").collect()
    assert(rows.length === n, "one output row per input id")
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def shapes(n: Int, seed: Long): Seq[(String, Seq[(Long, Long)])] = {
    val rng = new scala.util.Random(seed)
    val perm = rng.shuffle((0L until n.toLong).toVector)
    val chain = perm.sliding(2).map(p => (p(0), p(1))).toSeq
    val star = perm.tail.map(v => (v, perm.head)) // centre is a random id, not the least
    val tree = (1 until n).map(i => (perm(i), perm(rng.nextInt(i))))
    val cliques = perm.grouped(16).flatMap(g =>
      for (i <- g.indices; j <- i + 1 until g.size) yield (g(i), g(j))).toSeq
    Seq("random chain" -> chain, "star" -> star, "random tree" -> tree, "cliques" -> cliques)
  }

  for (route <- Seq("driver", "star"); n <- Seq(64, 2048)) {
    test(s"$route route: random chains, stars, trees and cliques of $n ids match union-find") {
      for ((name, edges) <- shapes(n, seed = 17L + n)) {
        val got = onSurvivorsRoute(route)(run(n, edges))
        val want = reference(n, edges)
        val wrong = want.count { case (id, s) => got(id) != s }
        assert(wrong === 0, s"$name (n=$n): $wrong ids with a wrong survivor")
      }
    }
  }

  test("both routes: repeated edges, both orientations, self-loops and isolated ids") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 5L), (7L, 7L), (9L, 8L), (8L, 1L))
    val want = reference(12, edges)
    for (route <- Seq("driver", "star"))
      assert(onSurvivorsRoute(route)(run(12, edges)) === want, route)
  }

  test("both routes: an empty pair set leaves every id its own survivor") {
    for (route <- Seq("driver", "star")) {
      val got = onSurvivorsRoute(route)(run(10, Nil))
      assert(got === (0L until 10L).map(i => i -> i).toMap, route)
    }
  }

  test("both routes: string ids take Spark's min, not the JVM's String order") {
    // U+FFFD sorts after a surrogate pair in UTF-16 (String.compareTo)
    // but before it in UTF-8 bytes (Spark's string order)
    val emoji = "\uD83D\uDE00"
    val repl = "\uFFFD"
    val pairs = Seq((emoji, repl), ("m", "k"), ("k", "z")).toDF("doc1", "doc2")
    val ids = Seq(emoji, repl, "k", "m", "z", "solo").toDF("doc_id")
    val sparkMin = Seq(emoji, repl).toDF("x").agg(min("x")).first().getString(0)
    assert(sparkMin === repl && emoji.compareTo(repl) < 0,
      "fixture no longer separates Spark's string order from the JVM's")
    val want = Map(emoji -> repl, repl -> repl, "k" -> "k", "m" -> "k", "z" -> "k",
      "solo" -> "solo")
    for (route <- Seq("driver", "star")) {
      val got = onSurvivorsRoute(route)(Dedup.survivors(pairs, ids, "doc_id"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === want, route)
    }
  }

  test("star route: the round count stays within the O(log² n) budget on a 2k random chain") {
    val n = 2048
    val edges = shapes(n, seed = 5L).head._2
    val before = Dedup.survivorStats.starRounds
    onSurvivorsRoute("star")(run(n, edges))
    val rounds = Dedup.survivorStats.starRounds - before
    assert(rounds <= Dedup.starRoundBound(2L * edges.size), s"$rounds rounds")
    assert(rounds <= 16, s"$rounds rounds for a 2k-id chain: expected ~log₂ n")
  }

  test("driverEdgeBound follows autoBroadcastJoinThreshold; <= 0 turns the route off") {
    val old = spark.conf.getOption(ThresholdKey)
    try {
      spark.conf.set(ThresholdKey, "10MB")
      assert(Dedup.driverEdgeBound(spark) === (10L << 20) / 128)
      spark.conf.set(ThresholdKey, "-1")
      assert(Dedup.driverEdgeBound(spark) <= 0)
    } finally old match {
      case Some(v) => spark.conf.set(ThresholdKey, v)
      case None => spark.conf.unset(ThresholdKey)
    }
  }

  test("ids outside the pair set and pair ends outside ids: left join from ids") {
    // 4 bridges 1 and 6 but is not in ids; 20 has no edge
    val pairs: DataFrame = Seq((4L, 6L), (1L, 4L)).toDF("doc1", "doc2")
    val ids = Seq(6L, 1L, 20L, 20L).toDF("doc_id")
    for (route <- Seq("driver", "star")) {
      val got = onSurvivorsRoute(route)(Dedup.survivors(pairs, ids, "doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === Seq((1L, 1L), (6L, 1L), (20L, 20L), (20L, 20L)), route)
    }
  }
}
