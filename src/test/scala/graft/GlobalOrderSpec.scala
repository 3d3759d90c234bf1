package graft

import graft.operators.GlobalOrder
import graft.operators.FrameOps._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** GlobalOrder boundary exchange: must agree row-for-row with the
  * (single-task) global-window lag it replaces, including null
  * pass-through and empty-partition carry-forward. */
class GlobalOrderSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("withPrev equals global-window lag on shuffled input") {
    val rng = new scala.util.Random(5)
    val df = rng.shuffle((1 to 500).toList)
      .map(i => (i, if (i % 17 == 0) None else Some(i * 1.5)))
      .toDF("ord", "v")
    val got = GlobalOrder.withPrev(df, Seq(col("ord")), Seq("v"))
      .collect()
      .map(r => (r.getInt(0), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    val w = Window.orderBy("ord") // single task — fine for a 500-row fixture
    val want = df.withColumn("p", lag("v", 1).over(w))
      .collect()
      .map(r => (r.getInt(0), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toMap
    assert(got == want)
    assert(got(1).isEmpty) // very first row has no predecessor
    assert(got(18).isEmpty) // 17 is null → prev passes the null through
  }

  test("withHeadRankFlagged: rank, prefix head and ambiguity flag equal " +
      "window-computed truth under partition-straddling runs") {
    val rng = new scala.util.Random(11)
    // values from a tiny domain so classes are large and straddle
    // range-partition boundaries; sprinkle singletons via a wide tail
    val df = (Seq.fill(700)((rng.nextInt(7), rng.nextInt(3))) ++
        Seq.tabulate(60)(i => (100 + i, i))).zipWithIndex
      .map { case ((a, b), i) => (a, b, i) }.toDF("a", "b", "id")
    val got = GlobalOrder.withHeadRankFlagged(df, Seq(col("a")), Seq(col("b")),
        "__sh", "__amb", Some("__ch"))
      .collect().map(r => r.getInt(2) -> ((r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    val w = Window.orderBy("a", "b") // single task — fixture only
    val wp = Window.orderBy("a")
    val full = Window.partitionBy("a", "b")
    val want = df
      .withColumn("__sh", min(row_number().over(w)).over(full).cast("long") - 1)
      .withColumn("__ch", min(min(row_number().over(w)).over(full))
        .over(Window.partitionBy("a")).cast("long") - 1)
      .withColumn("__amb", count(lit(1)).over(full) > 1)
      .collect().map(r => r.getInt(2) -> ((r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got == want)
    assert(got.values.exists(_._3) && got.values.exists(!_._3)) // both flags exercised
    // head ranks are class-range heads: every class occupies [r, r+s)
    val bySh = got.values.groupBy(_._1)
    assert(bySh.forall { case (r, rows) => rows.forall(_._1 == r) })
  }

  test("withHeadRankFlagged, empty prefix: rank = min(row_number) over class - 1") {
    val rng = new scala.util.Random(13)
    val df = Seq.fill(400)(rng.nextInt(9)).zipWithIndex.toDF("a", "id")
    val got = GlobalOrder.withHeadRankFlagged(df, Nil, Seq(col("a")), "__r", "__amb")
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    val w = Window.orderBy("a") // single task — fixture only
    val want = df
      .withColumn("__r", min(row_number().over(w)).over(Window.partitionBy("a")).cast("long") - 1)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("mapWindowGlobal computes whole-frame deltas without a global window") {
    val df = Seq((10, 1.0), (20, 4.0), (30, 9.0)).toDF("t", "y")
    val r = df.mapWindowGlobal(Seq(col("t")), Seq("y"), "dy",
        prev => col("y") - prev("y"))
      .orderBy("t").collect().map(x => Option(x.get(2)).map(_.asInstanceOf[Double]))
    assert(r.toSeq == Seq(None, Some(3.0), Some(5.0)))
  }
}
