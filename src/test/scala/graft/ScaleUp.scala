package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor multiplier for the driver testdata:
  * replicates every table `factor`× with disjoint key spaces so query
  * RESULTS scale linearly and predictably instead of quadratically.
  *
  *  - Relational keys shift by replica · (max+1) consistently across
  *    fact/dim tables (orders.o_custkey tracks customer.c_custkey,
  *    lineitem tracks orders/part/supplier). nation/region stay fixed
  *    (true dims).
  *  - documents: replica r > 0 prefixes every word with "r{r}x", so
  *    each replica's intra-replica shingle/Jaccard structure is
  *    isomorphic to the original while cross-replica similarity is 0 —
  *    near-dup pair counts scale exactly ×factor (verbatim replication
  *    would instead create C(factor,2) exact-dup pairs per doc).
  *  - embeddings: replica r > 0 multiplies each dimension by a
  *    deterministic ±1 mask from hash(r, j). A diagonal ±1 transform
  *    preserves every intra-replica cosine exactly and randomizes
  *    cross-replica ones toward 0.
  *  - events: ts re-encoded as µs TimestampType (the driver's
  *    TIMESTAMP(NANOS) needs a legacy flag Spark-side and µs is what
  *    both engines compare on anyway); per-user eps_us uniqueness is
  *    preserved because user_id shifts per replica.
  *
  * Usage: sbt "Test/runMain graft.ScaleUp [srcDir] [destDir] [factor]"
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("/tmp/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = GraftSession.local("graft-scaleup", cpus)

    // numeric-type- and empty-safe: int-typed parquet keys and empty
    // tables would otherwise fail with an opaque ClassCastException/NPE
    def keyOffset(df: DataFrame, key: String): Long =
      Option(df.agg(max(col(key))).first().get(0))
        .map(_.asInstanceOf[Number].longValue + 1).getOrElse(0L)

    // optional 4th arg: comma-separated table names (resume a partial
    // generation without rewriting finished tables). Validated up
    // front: a typo ("lineitems") would otherwise match nothing and
    // exit 0 looking like a successful run that wrote zero tables.
    val knownTables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val only = args.lift(3).map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names.diff(knownTables)
      require(unknown.isEmpty,
        s"unknown table(s) in resume filter: ${unknown.toSeq.sorted.mkString(",")}" +
          s" (known: ${knownTables.toSeq.sorted.mkString(",")})")
    }

    // scale the file count with the factor so the generated layout
    // supplies scan splits the way a real table would — one giant
    // row group per table would pin narrow stages to a few tasks
    def fileCount(files: Int): Int = math.min(256, files * math.max(1, factor / 4))

    // replica column 0..factor-1; replica 0 keeps original values.
    // THE LAYOUT SHUFFLE HAPPENS HERE, BEFORE THE EXPLODE: the output
    // file count is set by repartitioning the small INPUT (sf0.1
    // lineitem = 60 MB / 600k rows) and letting each task write its
    // slice's `factor` replicas straight through. The first version
    // repartitioned AFTER the multiplier — at factor 1000 that
    // shuffled the full 13 GB scaled lineitem and its spill ate a
    // 50 GB disk before the write began. Same file count, same even
    // row distribution, ~factor× less shuffle.
    def replicate(df: DataFrame, files: Int): DataFrame =
      df.repartition(fileCount(files))
        .withColumn("__r", explode(sequence(lit(0L), lit(factor - 1L))))

    def shift(c: String, offset: Long) = (col(c) + col("__r") * offset).as(c)

    val customer = Tables.customer(spark, src)
    val supplier = Tables.supplier(spark, src)
    val part = Tables.part(spark, src)
    val orders = Tables.orders(spark, src)
    val custOff = keyOffset(customer, "c_custkey")
    val suppOff = keyOffset(supplier, "s_suppkey")
    val partOff = keyOffset(part, "p_partkey")
    val orderOff = keyOffset(orders, "o_orderkey")

    // df arrives with its layout already set (replicate repartitions
    // the pre-explode input); write straight through, no shuffle here.
    // `build` is by-name so skipped tables (the `only` filter) never
    // plan or launch their keyOffset jobs.
    def write(name: String, build: => DataFrame): Unit =
      if (only.forall(_.contains(name))) {
        build.write.mode("overwrite").parquet(s"$dest/$name.parquet")
        println(s"[scaleup] $name -> $dest/$name.parquet")
      }

    // fixed dims: straight copy (tiny — single file)
    write("region", Tables.region(spark, src).coalesce(1))
    write("nation", Tables.nation(spark, src).coalesce(1))

    write("customer", {
      val d = replicate(customer, 2)
      d.select(shift("c_custkey", custOff) +:
        d.columns.filter(c => c != "c_custkey" && c != "__r").map(col).toIndexedSeq: _*)
    })

    write("supplier", {
      val d = replicate(supplier, 2)
      d.select(shift("s_suppkey", suppOff) +:
        d.columns.filter(c => c != "s_suppkey" && c != "__r").map(col).toIndexedSeq: _*)
    })

    write("part", {
      val d = replicate(part, 2)
      d.select(shift("p_partkey", partOff) +:
        d.columns.filter(c => c != "p_partkey" && c != "__r").map(col).toIndexedSeq: _*)
    })

    write("orders", {
      val d = replicate(orders, 4)
      d.select(shift("o_orderkey", orderOff) +: shift("o_custkey", custOff) +:
        d.columns.filter(c => !Set("o_orderkey", "o_custkey", "__r")(c)).map(col).toIndexedSeq: _*)
    })

    write("lineitem", {
      val d = replicate(Tables.lineitem(spark, src), 8)
      d.select(shift("l_orderkey", orderOff) +: shift("l_partkey", partOff) +:
        shift("l_suppkey", suppOff) +:
        d.columns.filter(c => !Set("l_orderkey", "l_partkey", "l_suppkey", "__r")(c))
          .map(col).toIndexedSeq: _*)
    })

    write("events", {
      val ev = Tables.events(spark, src) // normalized: eps_us long + µs ts
      val evOff = keyOffset(ev, "event_id")
      val userOff = keyOffset(ev, "user_id")
      val d = replicate(ev, 4)
      d.select(shift("event_id", evOff) +: col("ts") +: shift("user_id", userOff) +:
        d.columns.filter(c => !Set("event_id", "ts", "user_id", "eps_us", "__r")(c))
          .map(col).toIndexedSeq: _*)
    })

    write("documents", {
      val docs = Tables.documents(spark, src)
      val docOff = keyOffset(docs, "doc_id")
      val d = replicate(docs, 4)
      val text = when(col("__r") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), col("__r"), lit("x$1"))))
      d.select(shift("doc_id", docOff), text.as("text"), col("lang"), col("source"),
        length(text).cast("long").as("n_chars"))
    })

    write("embeddings", {
      val emb = Tables.embeddings(spark, src)
      val vecOff = keyOffset(emb, "vec_id")
      val d = replicate(emb, 2)
      d.select(shift("vec_id", vecOff),
        expr("""transform(embedding, (x, j) ->
                 CASE WHEN __r = 0 OR pmod(hash(__r, j), 2) = 0 THEN x
                      ELSE -x END)""").as("embedding"),
        col("label"))
    })

    spark.stop()
  }
}
