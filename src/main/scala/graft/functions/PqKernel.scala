package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Handle to broadcast DECOMPOSED residual-ADC lookup tables — the
  * IVFADC search kernel of product quantization (Jégou/Douze/Schmid,
  * TPAMI 2011 §IV: codes quantize the residual x − centroid(cell), so
  * the ADC table depends on BOTH the probe and the probed cell).
  *
  * The asymmetric-distance trick: the approximate distance to ANY
  * encoded corpus vector is a sum of m table reads indexed by its
  * codes — m reads instead of D multiplies per pair. The tables must
  * NOT ride the join as a column: m·ksub doubles serialized into every
  * (probe, candidate) row would undo the compression the codes bought.
  * They travel ONCE per executor as a broadcast (probes are a bounded
  * slice by design), and the scoring expression reads them.
  *
  * A naive per-(probe, cell) LUT is nProbes·nprobe·m·ksub doubles —
  * 400 MB at the production measurement shape (100 probes × 256
  * probed cells × 2048 doubles), which stops being "broadcast-bounded"
  * in any honest sense. Expand ‖(q−C)_j − cb‖² instead:
  *
  *   ‖(q−C)_j − cb‖² = ‖q_j − cb‖² + 2·C_j·cb + (‖C_j‖² − 2·C_j·q_j)
  *
  * summed over subspaces j with cb = cb_j[code_j]:
  *
  *   adc(q, C, codes) = Σ_j A_q[j,code_j] + Σ_j D_C[j,code_j] + bias(q,C)
  *
  * where A_q[j,c] = ‖q_j − cb_j[c]‖² is the PER-PROBE table
  * (m·ksub doubles), D_C[j,c] = 2·C_j·cb_j[c] is PER-CELL and
  * probe-independent (m·ksub doubles per PROBED cell only), and
  * bias(q,C) = ‖C‖² − 2·q·C is ONE scalar per (probe, probed cell) —
  * exactly the coarse-assignment score the probe's cell selection
  * already computes. Broadcast volume drops from
  * O(nProbes·nprobe·m·ksub) to O((nProbes + probedCells)·m·ksub):
  * ~5.8 MB at the same measurement shape. Per-row cost stays m-bounded
  * (two LUT reads per subspace instead of one).
  *
  * The bias term does NOT live here: it is one double per
  * (probe, probed cell), which is exactly the grain of the
  * driver-built probe-pairs frame — it rides that tiny frame as a
  * plain column and is ADDED to this kernel's output. (A first cut
  * kept it as a broadcast Map[(Long, Int), Double] — a per-row tuple
  * allocation + two boxes on every candidate row. The r17 A-B on the
  * refactor was INCONCLUSIVE in a 2–3× probe-swing session
  * (BENCH_pq_recall_r17.json bias_column_ab: B/A = 1.15/1.86/0.95/
  * 0.77 across nprobe); the column form is kept on the structural
  * argument — strictly fewer per-row allocations, one less broadcast
  * — with NO perf claim recorded.)
  *
  * Both LUT sides are DENSE arrays, not maps: the probe-pairs frame
  * is driver-built, so it carries each probe's ORDINAL as a column
  * and `probeLuts(ordinal)` is an array read — no per-row boxed
  * Map[Long, _] key lookup on the candidate join (same structural
  * class as the bias-column form; likewise no perf claim).
  * `cellLuts` is indexed by cell id with entries ONLY at probed cells
  * (null elsewhere — the kernel fails loudly on an unprobed cell, it
  * never scores one silently), so a kc=65536 production quantizer
  * costs pointers, not tables, for the cells this probe batch skips. */
case class BroadcastPqResidualLuts(
    probeLuts: Broadcast[Array[Array[Double]]],
    cellLuts: Broadcast[Array[Array[Double]]],
    m: Int, ksub: Int) {

  /** Residual squared-L2 ADC between a probe (by driver-assigned
    * ordinal into `probeLuts`, scored against cell `cid`'s posting
    * list) and an encoded corpus vector — packed `bigint` codes
    * (m ≤ 8, ksub ≤ 256) or `array<int>`. */
  def adc(probeOrd: Column, cid: Column, codes: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PqAdcResidualDistance(
        org.apache.spark.sql.GraftColumnBridge.expression(probeOrd),
        org.apache.spark.sql.GraftColumnBridge.expression(cid),
        org.apache.spark.sql.GraftColumnBridge.expression(codes), this))

  def destroy(): Unit = { probeLuts.destroy(); cellLuts.destroy() }
}

/** Codegen'd residual ADC: Σ_j (A_q + D_cid)[j·ksub + code_j] over
  * the broadcast decomposed tables (see [[BroadcastPqResidualLuts]];
  * the caller adds the per-(probe, cell) bias COLUMN). The tables
  * never enter the plan — codegen references this expression
  * instance, which carries only the broadcast handles (the
  * [[NearestCentroids]] pattern). Codes are packed `bigint` (code_j in
  * byte j; m ≤ 8, ksub ≤ 256 — the standard config fills the long
  * exactly) or `array<int>` beyond that geometry. */
case class PqAdcResidualDistance(first: Expression, second: Expression, third: Expression,
                                 luts: BroadcastPqResidualLuts)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (IntegerType, IntegerType, ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (IntegerType, IntegerType, LongType) =>
        if (luts.m <= 8 && luts.ksub <= 256) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"pq_adc_res packed codes need m<=8 and ksub<=256, got m=${luts.m} ksub=${luts.ksub}")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc_res requires (int probe ordinal, int cell id, array<int> | bigint codes), " +
          s"got (${a.simpleString(10)}, ${b.simpleString(10)}, ${c.simpleString(10)})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_res"

  // two dense array reads, no per-row boxing/map lookup (this
  // expression evaluates once per candidate row — 50M rows at the
  // sf100 measurement shape)
  private def probeLut(ord: Int): Array[Double] = {
    val ps = luts.probeLuts.value
    if (ord < 0 || ord >= ps.length)
      throw new IllegalArgumentException(
        s"pq_adc_res: probe ordinal $ord outside [0, ${ps.length})")
    ps(ord)
  }

  private def cellLut(cid: Int): Array[Double] = {
    val cells = luts.cellLuts.value
    if (cid < 0 || cid >= cells.length || cells(cid) == null)
      throw new IllegalArgumentException(s"pq_adc_res: cell $cid was not probed by this batch")
    cells(cid)
  }

  def adcDistance(probeOrd: Int, cid: Int, codes: ArrayData): Double = {
    val a = probeLut(probeOrd)
    val d = cellLut(cid)
    val (m, ksub) = (luts.m, luts.ksub)
    if (codes.numElements() != m)
      throw new IllegalArgumentException(
        s"pq_adc_res: ${codes.numElements()} codes for an m=$m quantizer")
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= ksub)
        throw new IllegalArgumentException(s"pq_adc_res: code $c outside [0, $ksub)")
      s += a(j * ksub + c) + d(j * ksub + c)
      j += 1
    }
    s
  }

  def adcDistancePacked(probeOrd: Int, cid: Int, packed: Long): Double = {
    val a = probeLut(probeOrd)
    val d = cellLut(cid)
    val (m, ksub) = (luts.m, luts.ksub)
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = ((packed >>> (j * 8)) & 0xffL).toInt
      if (c >= ksub)
        throw new IllegalArgumentException(s"pq_adc_res: code $c outside [0, $ksub)")
      s += a(j * ksub + c) + d(j * ksub + c)
      j += 1
    }
    s
  }

  private lazy val packed = third.dataType == LongType

  override protected def nullSafeEval(probeOrd: Any, cid: Any, codes: Any): Any =
    if (packed)
      adcDistancePacked(probeOrd.asInstanceOf[Int], cid.asInstanceOf[Int], codes.asInstanceOf[Long])
    else
      adcDistance(probeOrd.asInstanceOf[Int], cid.asInstanceOf[Int], codes.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqAdcResKernel", this, classOf[PqAdcResidualDistance].getName)
    val call = if (packed) "adcDistancePacked" else "adcDistance"
    nullSafeCodeGen(ctx, ev, (pid, cid, codes) => s"${ev.value} = $self.$call($pid, $cid, $codes);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
