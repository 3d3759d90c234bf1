package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** One shared local session across suites (Spark re-uses the active
  * session via getOrCreate). */
trait SharedSpark extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = GraftSession.builder("graft-test", cpus = 4).getOrCreate()
  lazy val sf: String = "/root/testdata/sf0.001"
  override def afterAll(): Unit = { /* keep session for sibling suites */ }

  /** Runs `f` with `Dedup.survivors` forced onto `route` — "driver"
    * (union-find on the driver) or "star" (the distributed
    * large-star/small-star loop; a broadcast threshold ≤ 0 turns the
    * driver route off) — and checks that `f` called survivors once,
    * on that route. */
  def onSurvivorsRoute[T](route: String)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, if (route == "driver") "1g" else "-1")
    val before = graft.dedup.Dedup.survivorStats
    try {
      val out = f
      val after = graft.dedup.Dedup.survivorStats
      val (took, other) = route match {
        case "driver" => (after.driverRoutes - before.driverRoutes, after.starRoutes - before.starRoutes)
        case "star" => (after.starRoutes - before.starRoutes, after.driverRoutes - before.driverRoutes)
      }
      assert(took == 1 && other == 0, s"expected one $route route call, got $took (+$other other)")
      if (route == "star")
        assert(after.starRounds > before.starRounds, "star route reported no rounds")
      out
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
