package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Cross-query reuse registry for EXPENSIVE intermediates that several
  * registered queries derive from (the DSIR weights frame feeding both
  * `q_dsir` and `q_dsir_sample`; the edit-distance pairs feeding both
  * `q_dedup_editdist` and `q_dedup_editdist_auto`). A caller
  * that runs both members of such a family pays the construction once.
  *
  * Entries are eager `localCheckpoint`s, NOT catalog caches: a
  * localCheckpoint materializes the rows into executor block storage
  * and detaches the lineage, so it survives `spark.catalog.clearCache()`
  * (the Bench harness's inter-query hygiene clears the catalog between
  * every query — a catalog cache would never live long enough to be
  * shared). Keys are the canonicalized logical plans of the inputs
  * plus the operator parameters, compared with `sameResult`, so two
  * queries reading the same table through different DataFrame objects
  * still hit.
  *
  * WITHIN-JVM STALENESS: a hit returns the rows as they were CHECKPOINTED.
  * If the files under an input path change while the JVM lives, the
  * plan key still matches (same path, same schema) and the entry
  * serves the old rows. The registry assumes immutable inputs for an
  * entry's lifetime — call [[releaseAll]] after mutating a source.
  *
  * Release discipline: entries hold executor storage until released.
  * [[release]]/[[releaseCreatedBy]] explicitly unpersist the
  * checkpointed blocks (dropping references alone would leave
  * reclamation to GC + the async ContextCleaner — under memory
  * pressure the blocks could linger until a driver GC happens to
  * run). A released entry's DataFrame must no longer be used: its
  * lineage was truncated at the checkpoint, so the rows are gone.
  * The Bench harness releases a family as soon as the suite moves
  * past it; library callers should release after the last consumer
  * (or use [[releaseAll]]). */
object SharedFrames {

  private final case class Entry(tag: String, params: Seq[Any],
                                 keys: Seq[LogicalPlan], df: DataFrame,
                                 creator: String)
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]

  /** Label under which [[getOrCompute]] records new entries — the
    * Bench harness sets it to the running query's name so it can
    * release a query's OWN entries between timing iterations (keeping
    * per-query medians honest) while leaving entries an EARLIER query
    * built available for reuse. Global mutable state, adequate for the
    * single-threaded bench; concurrent library callers racing on it
    * only mis-label creators (release granularity), never rows. */
  @volatile var creatorTag: String = ""

  private def keyOf(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed.canonicalized

  private def sameInputs(e: Entry, keys: Seq[LogicalPlan]): Boolean =
    e.keys.length == keys.length &&
      e.keys.zip(keys).forall { case (a, b) => a.sameResult(b) }

  /** The checkpointed RDDs behind a localCheckpoint'ed frame — the
    * handles release() uses to unpersist the blocks eagerly. */
  private def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** The memoized frame for (tag, params, inputs), computing and
    * eagerly checkpointing it on first call. `inputs` participate in
    * the key via plan equality, so a different source dir or upstream
    * transform is a different entry. */
  def getOrCompute(tag: String, inputs: Seq[DataFrame], params: Seq[Any])
                  (compute: => DataFrame): DataFrame =
    getOrCheckpoint(tag, inputs, params, eager = true)(compute)

  /** [[getOrCompute]] with a LAZY localCheckpoint: registering runs NO
    * Spark jobs — the checkpoint materializes at the frame's first
    * action, inside whichever consumer runs first (so a bench times
    * the construction against the query that actually triggers it),
    * and every later consumer of the entry reads the materialized
    * blocks. For registrations that must stay jobless at plan-build
    * time (the edit-distance queries: the plan audit builds the whole
    * registry and asserts zero construction jobs for the lazy
    * operators). Trade-off: until first action the entry's frame
    * re-plans from lineage, and a consumer that only ever calls
    * `.explain` sees an opaque `Scan ExistingRDD` — the operator-level
    * plan shape is audited separately (PlanAuditSpec's editdist
    * pipeline test). */
  def getOrComputeLazy(tag: String, inputs: Seq[DataFrame], params: Seq[Any])
                      (compute: => DataFrame): DataFrame =
    getOrCheckpoint(tag, inputs, params, eager = false)(compute)

  private def getOrCheckpoint(tag: String, inputs: Seq[DataFrame], params: Seq[Any],
                              eager: Boolean)(compute: => DataFrame): DataFrame = {
    val keys = inputs.map(keyOf)
    def find(): Option[Entry] = entries.synchronized {
      entries.find(e => e.tag == tag && e.params == params && sameInputs(e, keys))
    }
    find() match {
      case Some(e) => e.df
      case None =>
        // compute OUTSIDE the lock (it may run Spark jobs). Two threads
        // may race here; the loser's re-check below discards its
        // redundant checkpoint (blocks unpersisted, never pinned) and
        // every caller sees ONE canonical entry.
        val df = Checkpoints.checkpoint(compute, eager = eager)
        entries.synchronized {
          entries.find(e => e.tag == tag && e.params == params && sameInputs(e, keys))
        } match {
          case Some(winner) =>
            checkpointRdds(df).foreach(_.unpersist(blocking = false))
            winner.df
          case None =>
            entries.synchronized { entries += Entry(tag, params, keys, df, creatorTag) }
            df
        }
    }
  }

  private def drop(dropped: Seq[Entry]): Unit =
    dropped.foreach(e => checkpointRdds(e.df).foreach(_.unpersist(blocking = false)))

  /** Drop (and unpersist) every entry whose tag fails `keep`. */
  def release(keep: String => Boolean = _ => false): Unit = {
    val dropped = entries.synchronized {
      val (kept, out) = entries.partition(e => keep(e.tag))
      entries.clear(); entries ++= kept
      out.toSeq
    }
    drop(dropped)
  }

  /** Drop (and unpersist) entries created under `creator`
    * (see [[creatorTag]]). */
  def releaseCreatedBy(creator: String): Unit = {
    val dropped = entries.synchronized {
      val (out, kept) = entries.partition(_.creator == creator)
      entries.clear(); entries ++= kept
      out.toSeq
    }
    drop(dropped)
  }

  def releaseAll(): Unit = release()

  /** Live tags — spec hook. */
  private[graft] def liveTags: Seq[String] =
    entries.synchronized(entries.map(_.tag).toSeq)
}
