package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query at SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Methodology: `SPARK_GRAFT_BENCH_ITERS`
  * timed iterations per query (default 3), reporting the per-query
  * MEDIAN — best-of-2 was noisy enough that single-query numbers swung
  * ±50% between interleaved runs of a 50-query single-JVM session. A
  * query that throws is recorded under "errors" with a zero time, never
  * a silent −1 that would shrink the total. A streaming section reports
  * MemoryStream events/sec for the stateful operators. BENCH_LATEST.json
  * also carries each query's Janino compiles and compile ms per timed
  * iteration (`codegen_compiles`, `codegen_ms`, from [[CodegenCensus]]):
  * a warm compiled-class cache compiles only in the first. */
object Bench {
  /** Local core count for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  private[graft] def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def main(args: Array[String]): Unit = {
    // --list: print the registry (one name per line) and exit — the
    // sharded harness enumerates queries from the CODE via this flag,
    // never from a frozen round artifact that would silently exclude
    // queries registered since.
    if (args.headOption.contains("--list")) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    // --streaming: ONLY the MemoryStream throughput curve, one line —
    // lets the sharded harness attach a fresh-JVM streaming section to
    // its artifact (a query-subset shard skips streaming, and the
    // round-10 sf10 artifact had no streaming numbers at all).
    if (args.headOption.contains("--streaming")) {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val spark = GraftSession.local("graft-bench-streaming", envCpus)
      val curve = graft.streaming.StreamBench.curve(spark, sfDir)
        .toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + math.rint(v) }.mkString("{", ",", "}")
      println(s"""{"metric":"streaming","events_per_sec":$curve}""")
      spark.stop()
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = GraftSession.local("graft-bench", envCpus)

    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case t: Throwable =>
        Left((t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse(""))
          .replaceAll("[\"\\\\\n\r]", " ").take(160))
      }
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

    // optional arg: comma-separated query names (fast local loop)
    val only = args.headOption.map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Janino compiles per query and timed iteration: with a warm
    // compiled-class cache only the first iteration compiles
    val codegen = scala.collection.mutable.LinkedHashMap.empty[String, Seq[CodegenCensus.Snapshot]]
    // SharedFrames families: expensive intermediates several queries
    // legitimately share (the point of the registry — a user running
    // both members pays the construction once, and the artifact should
    // show that amortized cost). An entry LIVES while the suite is
    // inside its family prefix and is dropped as soon as the suite
    // moves on, so it never inflates unrelated queries' storage
    // pressure. Medians stay honest via creator-release below. The map
    // is declared next to the registry (SparkEntry.sharedFamilies,
    // spec-guarded) so a new family cannot bypass it.
    val familyPrefix = SparkEntry.sharedFamilies
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      // isolate queries within the shared JVM: drop cached frames the
      // previous query left behind (dedup shingle/signature caches rely
      // on harness-level cleanup) and GC, so one query's storage and
      // heap pressure can't inflate the next query's median 1.6-4× the
      // way the round-3 interleaved run did
      spark.catalog.clearCache()
      // tracked dedup caches: unpersist AND drop the registry refs, so
      // the analyzed plans + their storage are collectable
      graft.dedup.Dedup.releaseCaches()
      // localCheckpoint blocks (survivors, suffix-array rounds) are NOT
      // catalog caches — they free only when the RDD is GC'd and the
      // async ContextCleaner processes it. One gc() queues the refs;
      // the pause lets the cleaner drain; the second gc() collects what
      // the cleaner released. Without this, a 93-query sf10 suite ages
      // the shared JVM enough to inflate later driver-broadcast-heavy
      // queries 3-12× over their fresh-JVM cost (measured: the
      // registered ngram query is 97 s in a fresh JVM vs 572 s late in
      // an aged suite JVM — same code, same data, same plan).
      SharedFrames.release(keep =
        tag => familyPrefix.get(tag).exists(name.startsWith))
      System.gc()
      Thread.sleep(1500)
      System.gc()
      // a query pays for the shared entries IT creates on every
      // iteration (honest median); entries created by an EARLIER
      // family member stay available for reuse — that amortization is
      // the measurement the registry exists to demonstrate
      SharedFrames.creatorTag = name
      val timed = (1 to iters).map { _ =>
        SharedFrames.releaseCreatedBy(name); CodegenCensus.during(timeOnce(fn))
      }
      val runs = timed.map(_._1)
      codegen += name -> timed.map(_._2)
      val ok = runs.collect { case Right(s) => s }
      runs.collectFirst { case Left(e) => e }.foreach(errors += name -> _)
      name -> (if (ok.nonEmpty) math.rint(median(ok) * 1000) / 1000 else 0.0)
    }
    // the round driver keeps only a fixed BYTE tail of stdout — the
    // round-5 artifact lost the line's head (and with it `parsed`)
    // because streaming extras + 3-decimal values pushed the one-line
    // JSON past the window. Keep the final line lean: streaming and
    // errors go on their OWN earlier lines (expendable if the window
    // clips them), per-query seconds print with 2 decimals (<10 s)
    // / 1 decimal (≥10 s) — precision beyond that is host noise anyway.
    // Locale.ROOT: the f-interpolator uses the default locale, and a
    // comma-decimal host locale would corrupt the JSON artifact
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, if (v >= 10) "%.1f" else "%.2f",
        Double.box(v))
    // the parsed final line drops every key's "q_" prefix (all
    // registered names carry it, so the mapping is lossless) and
    // abbreviates the sf dir to its basename: at 86 queries the
    // full-name line measured ~2,007 bytes — exactly at the driver's
    // ~2 KB tail window — and the shortened form ~1,820, headroom for
    // ~15 more queries. Full names still print on the expendable
    // earlier line below and land in BENCH_LATEST.json.
    val qs = results.map { case (k, v) =>
      s"\"" + k.stripPrefix("q_") + "\":" + fmt(v) }.mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"queries_full","queries":$qsFull}""")
    if (errors.nonEmpty)
      println(errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
        .mkString("""{"metric":"errors","errors":{""", ",", "}}"))
    // iters/nerr on their own short line (subset runs included) so a
    // failed run is never indistinguishable from a clean 0-second one
    println(s"""{"metric":"info","iters":$iters,"nerr":${errors.size}}""")
    val streamingOpt = if (only.isEmpty) {
      val streaming = graft.streaming.StreamBench.curve(spark, sfDir)
        .toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + math.rint(v) }.mkString("{", ",", "}")
      println(s"""{"metric":"streaming","events_per_sec":$streaming}""")
      Some(streaming)
    } else None
    val total = math.rint(results.map(_._2).sum * 100) / 100
    // the harness capturing stdout keeps only a ~2 KB byte tail —
    // iters/nerr ride the streaming line above so THIS line (the
    // parsed artifact) stays under the window as the registry grows
    val sfShort = sfDir.split('/').lastOption.getOrElse(sfDir)
    // "t" = host epoch seconds: identical-code runs on this host swing
    // up to 2.6x/query between host-days, so a reader comparing two
    // artifacts needs to know whether they share a host-hour before
    // reading a gap as code movement (short key — the line must stay
    // under the driver's ~2 KB stdout tail window)
    val epoch = System.currentTimeMillis() / 1000
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfShort","t":$epoch}"""
    println(line)
    // belt-and-braces: the full-name line also lands in the working
    // dir, so a clipped stdout capture never loses the per-query data —
    // including the streaming section, which the driver's ~2 KB stdout
    // tail clipped out of the round-9 artifact (the parsed line must
    // stay lean, but the FILE has no window)
    val streamingJson = streamingOpt
      .map(s => s""","events_per_sec":$s""").getOrElse("")
    def perQuery(v: CodegenCensus.Snapshot => String): String = codegen.map { case (k, cs) =>
      s"\"" + k + "\":" + cs.map(v).mkString("[", ",", "]") }.mkString("{", ",", "}")
    val compiles = perQuery(_.compiles.toString)
    val compileMs = perQuery(c => math.rint(c.ms).toLong.toString)
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull$streamingJson,"codegen_compiles":$compiles,"codegen_ms":$compileMs,"sf":"$sfDir","t":$epoch}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LATEST.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
