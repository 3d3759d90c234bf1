package perfbench

import graft.{GraftSession, SharedFrames, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.pipeline.Packing
import graft.streaming.{DocStreams, EventStreams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.PerfbenchBridge
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.streaming.StreamingQuery

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One fresh JVM per workload run. Sets up a session, runs one untimed
  * check pass (which is also the warm-up), then timed passes over the
  * workload's fixed op list in a closed loop on one thread: at least
  * `--min-passes`, and more while `--seconds` have not passed. Writes
  * `result.json` (and, traced, `spans.jsonl`) under `--work`; `run.py`
  * turns them into the benchmark's metrics.
  *
  * An op is either a registered query (the call that returns its frame,
  * then `count()`) or a streaming feed (start the query, then push every
  * micro-batch through `MemoryStream` with `addData` and
  * `processAllAvailable`, then stop it). */
object Harness {

  /** One timed op: the call that returns the frame or starts the query
    * (build), then its action. */
  final case class Span(op: String, module: String, pass: Int, group: String,
                        startMs: Long, buildMs: Double, actionMs: Double,
                        error: Option[String]) {
    def wallMs: Double = buildMs + actionMs
  }

  sealed trait Op { def name: String; def module: String }
  final case class QueryOp(name: String, module: String,
                           fn: (SparkSession, String) => DataFrame) extends Op
  /** `start(check)` starts the query and returns the function that adds
    * micro-batch `i`; with `check` it writes to the memory table
    * `FeedOp.table(name)`, which `verify` compares with a batch reference
    * after the last micro-batch (in timed passes it writes to `noop`). */
  final case class FeedOp(name: String, module: String, batches: Int, rows: Long,
                          start: Boolean => (Int => Unit, StreamingQuery),
                          verify: DataFrame => Map[String, Any]) extends Op
  object FeedOp { def table(feed: String): String = s"perfbench_$feed" }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val passWalls = mutable.ArrayBuffer.empty[Double]
  private val checks = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private var firstTimedMs = 0L
  private var checkS = 0.0
  private var gcMs = 0L
  private var gcCount = 0L
  private var rowsFed = 0L

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = args("data")
    val work = args("work")
    val trace = args("trace") == "1"

    val spark = GraftSession.builder("perfbench", args("cpus").toInt)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis()
    val census = if (trace) Some(new Census) else None
    val streamCensus = if (trace) Some(new StreamCensus) else None
    census.foreach(spark.sparkContext.addSparkListener)
    streamCensus.foreach(spark.streams.addListener)

    val registry = SparkEntry.queries
    write(s"$work/registry.json", Json(registry.keys.toSeq.sorted))
    write(s"$work/oracle_sql.json", Json(SparkEntry.oracleSql))

    val lines = Files.readAllLines(Paths.get(args("ops"))).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.split("\\s+"))
    val missing = lines.collect { case Array("query", op, _) if !registry.contains(op) => op }
    if (missing.nonEmpty) {
      System.err.println(s"perfbench: listed ops missing from SparkEntry.queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    lazy val feeds = streamFeeds(spark, data, work, args("event-batch").toInt, args("doc-batch").toInt)
    val ops: Seq[Op] = lines.map {
      case Array("query", op, module) => QueryOp(op, module, registry(op))
      case Array("stream", op, _) => feeds(op)
    }

    checkPass(spark, data, work, ops, args("cpus").toInt)
    val timed = new Timed(spark, data, census, args("seconds").toDouble,
      args("min-passes").toInt, (args("deadline-s").toDouble * 1000).toLong)
    timed.loop(() => hygiene(spark)) { pass => ops.foreach(runOp(timed, pass, census, streamCensus)) }

    // residency at the end of the timed window. Nothing the program holds
    // is released first, except the state stores of the stopped feeds'
    // queries: they are unloaded here, as the state-store maintenance task
    // does on its next tick (every 60 s, so at a time that varies from run
    // to run). Full GCs repeat until the used heap stops falling, since
    // the ContextCleaner drops what one GC freed only after it.
    PerfbenchBridge.unloadStateStores()
    def gcUsedMb(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var heapMb = gcUsedMb()
    var before = Double.MaxValue
    var rounds = 1
    while (rounds < 2 || (before - heapMb > 1.0 && rounds < 10)) {
      Thread.sleep(300)
      before = heapMb
      heapMb = gcUsedMb()
      rounds += 1
    }

    census.foreach(_ => PerfbenchBridge.drainListenerBus(spark.sparkContext))
    val layers = census.map(c => layerMetrics(c, streamCensus.get, passWalls.size))
    census.foreach(c => writeSpans(s"$work/spans.jsonl", c))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    write(s"$work/result.json", Json(Map(
      "jvm_to_first_op_s" -> (firstTimedMs - jvmStart) / 1000.0,
      "session_s" -> (sessionMs - jvmStart) / 1000.0,
      "check_s" -> checkS,
      "pass_s" -> passWalls.toSeq,
      "op_ms" -> spans.filter(_.error.isEmpty).map(_.wallMs).toSeq,
      "batch_ms" -> batchMs.toSeq,
      "rows_fed" -> rowsFed,
      "spans" -> spans.map(s => Seq(s.op, s.pass, s.buildMs, s.actionMs)).toSeq,
      "attempts" -> spans.groupBy(_.op).map { case (k, v) => k -> v.size },
      "thrown" -> spans.filter(_.error.nonEmpty).groupBy(_.op).map { case (k, v) => k -> v.size },
      "errors" -> spans.flatMap(s => s.error.map(e => s.op -> e)).toMap,
      "checks" -> checks.toMap,
      "heap_live_mb" -> heapMb,
      "layers" -> layers.getOrElse(Map.empty))))
    spark.stop()
  }

  /** The error and, when it has one, its root cause. */
  private def message(t: Throwable): String = {
    def one(e: Throwable) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    if (root eq t) one(t) else s"${one(t)} (cause: ${one(root)})"
  }

  /** Caches are released at pass boundaries only, never between ops. */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Dedup.releaseCaches()
    SharedFrames.release()
    System.gc(); Thread.sleep(100); System.gc()
  }

  /** `f` over every op, `threads` ops at a time (the timed passes run
    * one op at a time). */
  private def concurrently[T](threads: Int, ops: Seq[Op])(f: Op => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try ops.map(op => pool.submit(() => f(op))).map(_.get())
    finally pool.shutdown()
  }

  /** The check pass is also the warm-up: every op once, concurrently.
    * A query's result is written for the fingerprint check `run.py`
    * makes after the JVM has exited; a feed's stream output is compared
    * here with its batch reference. */
  private def checkPass(spark: SparkSession, data: String, work: String, ops: Seq[Op],
                        threads: Int): Unit = {
    def check(op: Op): Map[String, Any] = try op match {
      case QueryOp(name, _, fn) =>
        val df = fn(spark, data)
        val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
        df.write.mode("overwrite").parquet(s"$work/check/$name")
        Map("schema" -> schema)
      case f: FeedOp =>
        val (add, q) = f.start(true)
        (0 until f.batches).foreach { i => add(i); q.processAllAvailable() }
        q.stop()
        f.verify(spark.table(FeedOp.table(f.name)))
    } catch {
      case t: Throwable => Map("error" -> message(t))
    }
    hygiene(spark)
    val c0 = System.nanoTime()
    ops.zip(concurrently(threads, ops)(check)).foreach { case (op, r) => checks(op.name) = r }
    checkS = (System.nanoTime() - c0) / 1e9
  }

  private def runOp(timed: Timed, pass: Int, census: Option[Census],
                    streamCensus: Option[StreamCensus])(op: Op): Unit = op match {
    case QueryOp(name, module, fn) =>
      timed.op(name, module, pass) { _ =>
        val df = fn(timed.spark, timed.data)
        () => df.count()
      }
    case f: FeedOp =>
      timed.op(f.name, f.module, pass) { group =>
        val (add, q) = f.start(false)
        // micro-batches run on the query's own thread under its run id
        census.foreach(_.alias(q.runId.toString, group))
        streamCensus.foreach(_.track(q.runId))
        () => {
          (0 until f.batches).foreach { i =>
            val t0 = System.nanoTime()
            add(i)
            q.processAllAvailable()
            batchMs += (System.nanoTime() - t0) / 1e6
          }
          q.stop()
          rowsFed += f.rows
        }
      }
  }

  /** Spans, pass walls and GC counters of the timed passes. */
  final class Timed(val spark: SparkSession, val data: String, census: Option[Census],
                    seconds: Double, minPasses: Int,
                    deadlineMs: Long) {
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private def gcNow: (Long, Long) =
      (gcBeans.map(_.getCollectionTime).sum, gcBeans.map(_.getCollectionCount).sum)
    private val uptime = ManagementFactory.getRuntimeMXBean

    /** Runs `pass(i)` at least `minPasses` times and then while the
      * window lasts; starts no further pass that would end past the
      * deadline. */
    def loop(hygiene: () => Unit)(pass: Int => Unit): Unit = {
      var i = 0
      var windowStart = 0L
      def more: Boolean = {
        val elapsed = if (i == 0) 0.0 else (System.nanoTime() - windowStart) / 1e9
        val last = passWalls.lastOption.getOrElse(0.0) * 1000
        i < minPasses || (elapsed < seconds && uptime.getUptime + last < deadlineMs)
      }
      while (more) {
        hygiene()
        val (g0, c0) = gcNow
        val t0 = System.nanoTime()
        if (i == 0) { windowStart = t0; firstTimedMs = System.currentTimeMillis() }
        pass(i)
        passWalls += (System.nanoTime() - t0) / 1e9
        val (g1, c1) = gcNow
        gcMs += g1 - g0; gcCount += c1 - c0
        i += 1
      }
    }

    /** Times one op; `build` gets the span's job group and returns the
      * action to run. */
    def op(name: String, module: String, pass: Int)(build: String => (() => Any)): Unit = {
      val group = s"$name#$pass"
      census.foreach(_ => spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false))
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val span = try {
        val action = build(group)
        t1 = System.nanoTime()
        action()
        Span(name, module, pass, group, startMs, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, None)
      } catch {
        case t: Throwable =>
          Span(name, module, pass, group, startMs, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6,
            Some(message(t)))
      }
      census.foreach(_ => spark.sparkContext.clearJobGroup())
      spans += span
    }
  }

  /** The four streaming feeds, over the events in time order and the
    * documents in id order, each with its check against the batch
    * version of the same transform on the same rows. */
  private def streamFeeds(spark: SparkSession, data: String, work: String,
                          eventBatch: Int, docBatch: Int): Map[String, FeedOp] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.events(spark, data)
      .select(col("eps_us").cast("long"), col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val docs = Tables.documents(spark, data).select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val evBatches = events.grouped(eventBatch).toIndexedSeq
    val docBatches = docs.grouped(docBatch).toIndexedSeq
    val run = new java.util.concurrent.atomic.AtomicInteger()
    def sink(df: DataFrame, feed: String, memory: Boolean): StreamingQuery = {
      val w = df.writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/stream-ckpt/${run.incrementAndGet()}-$feed")
      (if (memory) w.format("memory").queryName(FeedOp.table(feed)) else w.format("noop")).start()
    }
    def schemaOf(df: DataFrame): String =
      df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    /** `ok` plus the evidence: equal multisets of rows, and at least one. */
    def same[T: Ordering](stream: Seq[T], batch: Seq[T]): Map[String, Any] =
      Map("ok" -> (stream.sorted == batch.sorted && stream.nonEmpty),
        "stream_rows" -> stream.size, "batch_rows" -> batch.size)

    val dedup = FeedOp("dedup_stream", "streaming", evBatches.size, events.size, { check =>
      val mem = MemoryStream[(Timestamp, Long, Double)]
      val q = sink(EventStreams.dedupStream(mem.toDF().toDF("ts", "user_id", "value"), "value", "ts"),
        "dedup_stream", check)
      (i => mem.addData(evBatches(i).map { case (e, u, v) => (new Timestamp(e / 1000), u, v) }), q)
    }, { out =>
      // events arrive in time order, so none is late: the first row of
      // every distinct value is kept, and no row is added
      val want = "ts:timestamp,user_id:bigint,value:double"
      val kept = out.select("value").as[Double].collect().toSeq
      Map("ok" -> (schemaOf(out) == want && kept.nonEmpty && kept.size <= events.size &&
          kept.toSet == events.map(_._3).toSet),
        "schema" -> schemaOf(out), "stream_rows" -> kept.size, "distinct_values" -> kept.toSet.size)
    })

    type Session = (Long, Long, Long, Int, Long)
    def sessions(df: DataFrame): Seq[Session] =
      df.select(col("user_id"), col("session_start_us"), col("session_end_us"), col("n_events"),
          round(col("sum_value") * 1e6).cast("long"))
        .as[(Long, Long, Long, Int, Long)].collect().toSeq
    val sessionize = FeedOp("sessionize_stream", "streaming", evBatches.size, events.size, { check =>
      val mem = MemoryStream[(Long, Long, Double)]
      val q = sink(EventStreams.sessionizeStream(mem.toDF().toDF("eps_us", "user_id", "value"),
        gapMs = SessionGapMs), "sessionize_stream", check)
      (i => mem.addData(evBatches(i)), q)
    }, { out =>
      // the stream emits closed sessions only: every batch session but
      // each user's last, which is still open when the feed ends
      val batch = sessions(EventStreams.sessionize(events.toDF("eps_us", "user_id", "value"), SessionGapMs))
      val closed = batch.groupBy(_._1).values.flatMap(s => s.sortBy(_._2).dropRight(1)).toSeq
      same(sessions(out), closed)
    })

    val dupgram = FeedOp("dupgram_stream", "streaming", docBatches.size, docs.size, { check =>
      val mem = MemoryStream[(Long, String)]
      val q = sink(DocStreams.dupGramHitsStream(mem.toDF().toDF("doc_id", "text"), "doc_id", "text"),
        "dupgram_stream", check)
      (i => mem.addData(docBatches(i)), q)
    }, { out =>
      same(out.as[(Long, Long, Int)].collect().toSeq,
        DocStreams.dupGramHitsBatch(docs.toDF("doc_id", "text"), "doc_id", "text")
          .as[(Long, Long, Int)].collect().toSeq)
    })

    def packed(df: DataFrame): Seq[(Long, Long, Long, Long, Long, Long)] =
      df.select(Seq("doc_id", "shard", "n_tokens", "tok_start", "seq_first", "seq_last")
          .map(c => col(c).cast("long")): _*).as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val pack = FeedOp("pack_stream", "pipeline", docBatches.size, docs.size, { check =>
      val mem = MemoryStream[(Long, String)]
      val q = sink(Packing.packStream(mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        budget = PackBudget, shards = PackShards), "pack_stream", check)
      (i => mem.addData(docBatches(i)), q)
    }, { out =>
      // documents fed in id order: row-identical to the batch chunkPack
      same(packed(out), packed(Packing.chunkPack(docs.toDF("doc_id", "text"), "doc_id", "text",
        budget = PackBudget, shards = PackShards)))
    })

    Seq(dedup, sessionize, dupgram, pack).map(f => f.name -> f).toMap
  }

  private val SessionGapMs = 3600000L
  private val PackBudget = 2048
  private val PackShards = 32

  /** Per-layer metrics, each a per-timed-pass mean unless it is a ratio
    * or a maximum. */
  private def layerMetrics(c: Census, sc: StreamCensus, passes: Int): Map[String, Double] = {
    val per = math.max(1, passes).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    val recs = spans.toSeq.map(s => s -> c.of(s.group))
    for (module <- Seq("operators", "dedup", "similarity", "text", "pipeline", "multimodal")) {
      val mine = recs.filter(_._1.module == module)
      m(s"$module.calls") = mine.size / per
      m(s"$module.busy_ms") = mine.map(_._1.wallMs).sum / per
      m(s"$module.build_ms") = mine.map(_._1.buildMs).sum / per
      m(s"$module.jobs") = mine.map(_._2.jobs).sum / per
      m(s"$module.task_ms") = mine.map(_._2.taskMs).sum / per
      m(s"$module.shuffle_write_bytes") = mine.map(_._2.shuffleWriteBytes).sum / per
    }
    val gaps = recs.map { case (s, g) =>
      Census.uncovered(s.startMs, s.startMs + s.wallMs.toLong, g.intervals.toSeq)
    }
    val rs = recs.map(_._2)
    val tasks = rs.map(_.tasks).sum
    m("spark.jobs") = rs.map(_.jobs).sum / per
    m("spark.stages") = rs.map(_.stages).sum / per
    m("spark.tasks") = tasks / per
    m("spark.task_ms") = rs.map(_.taskMs).sum / per
    m("spark.sched_delay_ms") = rs.map(_.schedDelayMs).sum / per
    m("spark.driver_only_ms") = gaps.map(_._1).sum / per
    m("spark.max_driver_gap_ms") = if (gaps.isEmpty) 0.0 else gaps.map(_._2).max.toDouble
    m("spark.single_task_stage_ms") = rs.map(_.singleTaskStageMs).sum / per
    m("spark.nonempty_task_ratio") = if (tasks == 0) 0.0 else rs.map(_.nonemptyTasks).sum.toDouble / tasks
    m("spark.shuffle_read_bytes") = rs.map(_.shuffleReadBytes).sum / per
    m("spark.shuffle_write_bytes") = rs.map(_.shuffleWriteBytes).sum / per
    m("spark.spill_bytes") = rs.map(_.spillBytes).sum / per
    m("spark.failed_tasks") = rs.map(_.failedTasks).sum / per
    m("jvm.gc_ms") = gcMs / per
    m("jvm.gc_count") = gcCount / per
    val s = sc.sums
    for (k <- Seq("batches", "trigger_ms", "add_batch_ms", "planning_ms", "wal_commit_ms",
      "state_rows", "state_commit_ms")) m(s"streaming.$k") = s(k) / per
    m("streaming.nonempty_batch_ratio") =
      if (s("batches") == 0) 0.0 else s("nonempty_batches") / s("batches")
    m.toMap
  }

  private def writeSpans(path: String, c: Census): Unit = {
    val lines = spans.flatMap { s =>
      val g = c.of(s.group)
      val build = s.startMs + s.buildMs.toLong
      val end = s.startMs + s.wallMs.toLong
      Seq(
        Json(ListMap("span" -> s.group, "parent" -> "", "name" -> s.op, "module" -> s.module,
          "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> end, "error" -> s.error.getOrElse(""),
          "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks, "task_ms" -> g.taskMs,
          "driver_only_ms" -> Census.uncovered(s.startMs, end, g.intervals.toSeq)._1)),
        Json(ListMap("span" -> s"${s.group}/build", "parent" -> s.group, "name" -> "build",
          "start_ms" -> s.startMs, "end_ms" -> build)),
        Json(ListMap("span" -> s"${s.group}/action", "parent" -> s.group, "name" -> "action",
          "start_ms" -> build, "end_ms" -> end)))
    }
    Files.write(Paths.get(path), lines.asJava)
  }

  private def write(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), text)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
