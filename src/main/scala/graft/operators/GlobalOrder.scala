package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{StructField, StructType}

/** Global-order previous-row access without a global window.
  *
  * The reference's single-series operators (df-map with (prev,current)
  * — df.rkt l.946, weighted statistics, is-sorted) walk one vector in
  * order. The naive distributed translation — `Window.partitionBy()` —
  * funnels every row into ONE task. This utility keeps the semantics
  * and the parallelism: range-partition on the order columns (Spark's
  * parallel sort), sort within partitions, then seed each partition
  * with the LAST row of the previous non-empty partition (one boundary
  * row per partition through the driver), so a per-partition scan sees
  * exactly the globally-previous row.
  */
object GlobalOrder {

  /** Appends `__prev_<c>` for each c in `carryCols`, valued as of the
    * globally previous row in `orderCols` order (nulls for the very
    * first row, and null fields pass through like `lag`). Output rows
    * are range-partitioned + sorted by `orderCols`. Two jobs run over
    * the same shuffle (boundary collect, then the downstream query), so
    * the sort is computed once and reused as a skipped stage. */
  def withPrev(df: DataFrame, orderCols: Seq[Column], carryCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val base = df.repartitionByRange(nPart, orderCols: _*).sortWithinPartitions(orderCols: _*)
    val schema = df.schema
    val idxs = carryCols.map(schema.fieldIndex).toArray
    val rdd0 = base.rdd
    val lasts = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var last: Row = null
      while (it.hasNext) last = it.next()
      if (last == null) Iterator.empty
      else Iterator.single((pid, idxs.map(i => if (last.isNullAt(i)) null else last.get(i))))
    }.collect().toMap
    val nParts = rdd0.getNumPartitions
    // boundary for partition p = last row of the nearest earlier
    // non-empty partition (empty partitions forward their predecessor's)
    val bound = new Array[Array[Any]](nParts)
    var carry: Array[Any] = null
    for (p <- 0 until nParts) {
      bound(p) = carry
      lasts.get(p).foreach(l => carry = l)
    }
    val bc = spark.sparkContext.broadcast(bound)
    val nulls = idxs.map(_ => null: Any)
    val out = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var prev: Array[Any] = bc.value(pid)
      it.map { r =>
        val prevVals = if (prev == null) nulls else prev
        prev = idxs.map(i => if (r.isNullAt(i)) null else r.get(i))
        Row.fromSeq(r.toSeq ++ prevVals)
      }
    }
    val outSchema = StructType(schema.fields.toIndexedSeq ++
      carryCols.map(c => StructField(s"__prev_$c", schema(c).dataType, nullable = true)))
    spark.createDataFrame(out, outSchema)
  }

  /** Head rank over `prefixCols ++ restCols` without a global window:
    * `rankCol` is the 0-based GLOBAL row index of the first row of the
    * row's key class (equal keys share the rank of their class head).
    * A class of size s occupies the half-open rank range [r, r+s) with
    * no other class inside it — which is what lets the suffix-array
    * doubling loop refine a class IN PLACE (new ranks r + within-class
    * offsets) without re-ranking the rest of the corpus. On a key that
    * is unique per row the head rank IS the row position. Machinery:
    * range-partition + in-partition sort (Spark's parallel sort), one
    * stats pass (per-partition row count, first/last key, local head
    * of the final run — O(partitions) bytes through the driver), then
    * a second pass assigning ranks from merged offsets.
    *
    * Two more facts ride the same passes, which the suffix-array
    * doubling loop otherwise pays two groupBy shuffles and three joins
    * per round to learn: `ambCol` — whether this row's full-key class
    * has size > 1 (a row is a singleton iff its key agrees with
    * neither its global predecessor nor successor, decided in-stream
    * with one row of lookahead and the neighbor partitions' boundary
    * keys) — and, when `prefixRankCol` is set, the head rank of the
    * PREFIX block the row's class lives in (the global row index of
    * the first row whose `prefixCols` agree), which is exactly
    * `min(rank)` over the block because blocks are contiguous under
    * the (prefix ++ rest) sort. The stats pass additionally records
    * each partition's final prefix-run head and first key (so a
    * partition-final row can ask whether its run continues into the
    * next partition), and the ranking pass streams with one row of
    * lookahead. Zero extra shuffles, zero extra jobs. */
  def withHeadRankFlagged(df: DataFrame, prefixCols: Seq[Column], restCols: Seq[Column],
                          rankCol: String, ambCol: String,
                          prefixRankCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val orderCols = prefixCols ++ restCols
    val nPrefix = prefixCols.length
    val keyNames = orderCols.indices.map(i => s"__dk$i")
    val keyed = df.select(orderCols.zipWithIndex.map { case (c, i) => c.as(s"__dk$i") } ++
      df.columns.map(org.apache.spark.sql.functions.col): _*)
    val kIdx = orderCols.indices.toArray
    val base = keyed.repartitionByRange(nPart, keyNames.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(keyNames.map(org.apache.spark.sql.functions.col): _*)
    val rdd0 = base.rdd
    val stats = rdd0.mapPartitionsWithIndex { (pid, it) =>
      var nRows = 0L; var nRuns = 0L; var nPRuns = 0L
      var first: Seq[Any] = null; var last: Seq[Any] = null
      var lastHead = 0L; var lastPHead = 0L
      while (it.hasNext) {
        val r = it.next(); val k = kIdx.map(r.get).toSeq
        if (first == null) first = k
        if (last == null || k != last) { nRuns += 1; lastHead = nRows }
        if (last == null || k.take(nPrefix) != last.take(nPrefix)) {
          nPRuns += 1; lastPHead = nRows
        }
        last = k; nRows += 1
      }
      if (first == null) Iterator.empty
      else Iterator.single((pid, nRows, nRuns, first, last, lastHead, nPRuns, lastPHead))
    }.collect().map(s => s._1 -> s).toMap
    val nParts = rdd0.getNumPartitions
    val rowOff = new Array[Long](nParts)
    val carryKeys = new Array[Seq[Any]](nParts)
    val carryHeads = new Array[Long](nParts)
    val carryPKeys = new Array[Seq[Any]](nParts)
    val carryPHeads = new Array[Long](nParts)
    val nextFirst = new Array[Seq[Any]](nParts)
    var off = 0L; var ck: Seq[Any] = null; var ch = 0L
    var cpk: Seq[Any] = null; var cph = 0L
    for (p <- 0 until nParts) {
      rowOff(p) = off; carryKeys(p) = ck; carryHeads(p) = ch
      carryPKeys(p) = cpk; carryPHeads(p) = cph
      stats.get(p).foreach { case (_, nRows, nRuns, first, last, lastHead, nPRuns, lastPHead) =>
        val merge = ck != null && first == ck
        ch = if (nRuns == 1L && merge) ch else off + lastHead
        ck = last
        val pMerge = cpk != null && first.take(nPrefix) == cpk
        cph = if (nPRuns == 1L && pMerge) cph else off + lastPHead
        cpk = last.take(nPrefix)
        off += nRows
      }
    }
    var nxt: Seq[Any] = null
    for (p <- nParts - 1 to 0 by -1) {
      nextFirst(p) = nxt
      stats.get(p).foreach { case (_, _, _, first, _, _, _, _) => nxt = first }
    }
    val bc = spark.sparkContext.broadcast(
      (rowOff, carryKeys, carryHeads, carryPKeys, carryPHeads, nextFirst))
    val out = rdd0.mapPartitionsWithIndex { (pid, it0) =>
      val it = it0.buffered
      val (offs, cks, chs, cpks, cphs, nxts) = bc.value
      val pOff = offs(pid); val inKey = cks(pid); val inHead = chs(pid)
      val inPK = cpks(pid); val inPH = cphs(pid); val nextK0 = nxts(pid)
      var i = 0L; var curKey: Seq[Any] = null; var curHead = 0L
      var curPK: Seq[Any] = null; var curPH = 0L
      var prevKey: Seq[Any] = inKey
      // each row's key is extracted ONCE: the lookahead extraction for
      // row i+1 is cached and becomes row i+1's own key next iteration
      var ahead: Seq[Any] = null
      it.map { r =>
        val k = if (ahead != null) ahead else kIdx.map(r.get).toSeq
        val pk = k.take(nPrefix)
        if (curKey == null) {
          curHead = if (inKey != null && k == inKey) inHead else pOff
          curPH = if (inPK != null && pk == inPK) inPH else pOff
          curKey = k; curPK = pk
        } else {
          if (k != curKey) { curKey = k; curHead = pOff + i }
          if (pk != curPK) { curPK = pk; curPH = pOff + i }
        }
        val nextKey =
          if (it.hasNext) { ahead = kIdx.map(it.head.get).toSeq; ahead }
          else { ahead = null; nextK0 }
        val amb = (prevKey != null && prevKey == k) ||
          (nextKey != null && nextKey == k)
        prevKey = k
        i += 1
        val extra = Seq[Any](curHead) ++
          (if (prefixRankCol.isDefined) Seq[Any](curPH) else Nil) :+ amb
        Row.fromSeq(r.toSeq ++ extra)
      }
    }
    val lt = org.apache.spark.sql.types.LongType
    val outSchema = StructType(base.schema.fields.toIndexedSeq ++
      (Seq(StructField(rankCol, lt, nullable = false)) ++
        prefixRankCol.map(c => StructField(c, lt, nullable = false)).toSeq :+
        StructField(ambCol, org.apache.spark.sql.types.BooleanType, nullable = false)))
    spark.createDataFrame(out, outSchema).drop(keyNames: _*)
  }
}
