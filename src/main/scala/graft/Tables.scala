package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Parquet scans give Catalyst predicate pushdown + column pruning for
  * free — every graft query starts from these, so filters/projections
  * reach the scan (verify via `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred parquet schema per (path, nanosAsLong) → (mtime,
    * schema) — schema inference is an eager footer-reading Spark job at
    * every `spark.read.parquet` CALL, so a suite that opens the same
    * table hundreds of times pays hundreds of schema jobs (one per
    * table per query per bench iteration; at cluster scale it is a
    * footer listing pass over the table). The schema is plan METADATA,
    * not data: supplying it via `.schema(...)` skips only the inference
    * job — every query still scans the parquet itself. Keyed on the
    * nanosAsLong conf too because that flag changes what type
    * TIMESTAMP(NANOS) columns infer as (LongType vs error), and two
    * sessions in one JVM may disagree on it. The entry remembers the
    * path's LOCAL-FS mtime and is REPLACED when it changes, so a table
    * rewritten in-JVM with a changed schema (the test-side generators
    * ScaleUp and StructuredEmbeddings overwrite their dest dirs) is
    * re-inferred instead of misread, and rewrites leave one entry per
    * path, not one per mtime. A rewrite inside the mtime granularity
    * (one second on some filesystems) keeps the old mtime: call
    * [[invalidate]] after writing. A non-local path (hdfs://, s3a://)
    * stats as 0, i.e. is treated as immutable unless invalidated. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, org.apache.spark.sql.types.StructType)]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"))
    val mtime = new java.io.File(path).lastModified() // 0 for non-local paths
    val hit = schemaCache.get(key)
    val sch = if (hit != null && hit._1 == mtime) hit._2 else {
      val inferred = spark.read.parquet(path).schema
      schemaCache.put(key, (mtime, inferred))
      inferred
    }
    spark.read.schema(sch).parquet(path)
  }

  /** Drop the cached schema of the table at `path` (`<dir>/<name>.parquet`)
    * under every conf, so the next [[apply]] re-infers it. */
  def invalidate(path: String): Unit = schemaCache.keySet.removeIf(_._1 == path)

  /** Cached schema entries for `path` — spec hook. */
  private[graft] def schemaCacheEntries(path: String): Int =
    schemaCache.keySet.stream.filter(_._1 == path).count().toInt

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  /** Events table normalized for exact cross-engine time arithmetic:
    * the driver data has TIMESTAMP(NANOS) parquet timestamps, which
    * Spark 4 only reads via `spark.sql.legacy.parquet.nanosAsLong`
    * (→ LongType nanos). We expose:
    *   - `eps_us`: exact epoch microseconds (long) — matches DuckDB's
    *     `epoch_us(ts)` (DuckDB truncates ns→µs on parquet read);
    *   - `ts`: µs-precision TimestampType.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) under nanosAsLong: ns since epoch
        raw.withColumn("eps_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("eps_us")))
      case TimestampNTZType => // µs, isAdjustedToUTC=false: the naive
        // datetime IS the UTC instant (driver data + session are UTC) —
        // the cast re-interprets it in the session zone, no shift
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("eps_us", unix_micros(col("ts")))
      case _ =>
        raw.withColumn("eps_us", unix_micros(col("ts")))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
