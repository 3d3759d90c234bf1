package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's scale-oriented defaults.
  *
  * Local testing runs `local[32]`; the same configs are what we'd set on a
  * real cluster (AQE handles runtime re-planning: partition coalescing,
  * skew-join splitting, broadcast demotion).
  *
  * Some settings are static and JVM-wide: Spark reads them once, when
  * the first session of the JVM starts (the compiled-class cache is
  * sized when `CodeGenerator` is first loaded). They take effect only if
  * that first session is built through this object; a later
  * `getOrCreate` with other values keeps the first ones.
  *  - `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheEntries]]):
  *    Spark's default of 100 classes is below a workload's working set,
  *    so a repeated query would compile its whole-stage code again.
  *  - `spark.sql.ui.retainedExecutions`, `spark.ui.retainedJobs`,
  *    `spark.ui.retainedStages`: with the UI off nothing in graft reads
  *    Spark's status stores, which by default keep 1,000 of each; the
  *    smaller stores pay in heap for the larger class cache.
  *  - `spark.sql.artifact.isolation.enabled=false`: each streaming query
  *    runs in a clone of the session; with isolation its tasks load
  *    classes through a classloader of that clone, and the class cache
  *    is keyed by classloader, so every run of a feed would compile its
  *    stages again. graft adds no artifacts to a session.
  * The README's "Session defaults" table lists every setting. */
object GraftSession {
  /** Compiled-class cache size. Measured with an oversized cache: a
    * `frame_ops` benchmark run compiles 299 distinct classes, a `corpus`
    * run 340, and one pass over the whole registry at sf0.01 1,334.
    * Spark splits the cache into 4 segments of a quarter each that evict
    * on their own, so the size leaves a segment room for either
    * workload's skew. A session that runs the whole registry keeps the
    * most recent 512 classes rather than all of them, which bounds the
    * heap they hold. */
  val CodegenCacheEntries = 512

  def builder(appName: String = "graft", cpus: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Dead-shuffle residency in iterative builds (the r18 sf100 SA
      // lesson, BENCH_sa_sf100_postfix_r18.json) is now bounded INSIDE
      // the loops themselves: graft.LoopGc forces a throttled driver
      // GC at most once a minute (a fixed interval, no session key)
      // while a doubling/survivors/LCP loop is running, so the bound
      // holds in EVERY session (graft.Bench's
      // own session never had the r18 session-global
      // spark.cleaner.periodicGC.interval=90s) and short queries never
      // inherit forced-full-GC risk for a residency problem only long
      // builds have (r18 verdict item 1).
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")

  def local(appName: String = "graft", cpus: Int = 32): SparkSession = {
    val s = builder(appName, cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
