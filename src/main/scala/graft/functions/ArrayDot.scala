package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst dot-product over two float/double arrays.
  *
  * The embedding kernels (cosine near-dup, ANN top-k) sit inside an
  * O(candidate-pairs) join — at 100 TB that inner product runs
  * trillions of times, so it must stay inside whole-stage codegen.
  * Spark's `aggregate`/`zip_with` higher-order functions evaluate
  * interpreted (lambda per element, boxed Doubles); this expression
  * emits a tight primitive loop instead (~10× on the brute-force
  * near-dup join).
  *
  * array<float> inputs are read natively and widened per element —
  * float→double is exact and accumulation stays in double, so results
  * are bit-identical to casting the array up front while the vector
  * payload carried through the pair joins stays HALF the bytes (the
  * dominant shuffle volume of the blocked all-pairs join).
  *
  * Null handling: null input → null; mismatched lengths → dot over the
  * common prefix (callers validate dims upstream).
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_dot requires array<double|float> inputs, got " +
        s"${left.dataType.simpleString(10)} / ${right.dataType.simpleString(10)}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  @transient private lazy val leftFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (leftFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // accessor choice is static per plan — no per-row branch
      val ax = if (leftFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val bx = if (rightFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $ax * $bx;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Idempotently register graft's native expressions on the session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val dotId = FunctionIdentifier("array_dot")
    if (!reg.functionExists(dotId)) {
      reg.registerFunction(dotId,
        new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
        (exprs: Seq[Expression]) => ArrayDot(exprs.head, exprs(1)))
    }
    val shId = FunctionIdentifier("simhash64")
    if (!reg.functionExists(shId)) {
      reg.registerFunction(shId,
        new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
        (exprs: Seq[Expression]) => SimHash64(exprs.head))
    }
    val mhId = FunctionIdentifier("minhash_sig")
    if (!reg.functionExists(mhId)) {
      reg.registerFunction(mhId,
        new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
        (exprs: Seq[Expression]) => {
          if (exprs.length != 2)
            throw new IllegalArgumentException(
              s"minhash_sig(shingles, perms) takes 2 arguments, got ${exprs.length}")
          val permsExpr = exprs(1)
          if (!permsExpr.foldable)
            throw new IllegalArgumentException(
              "minhash_sig(shingles, perms): perms must be an integer literal")
          permsExpr.eval() match {
            case n: Number if n.intValue() > 0 => MinHashSig(exprs.head, n.intValue())
            case other => throw new IllegalArgumentException(
              s"minhash_sig(shingles, perms): perms must be a positive integer, got $other")
          }
        })
    }

    val hpId = FunctionIdentifier("hyperplane_band_keys")
    if (!reg.functionExists(hpId)) {
      reg.registerFunction(hpId,
        new ExpressionInfo(classOf[HyperplaneBandKeys].getName, "hyperplane_band_keys"),
        (exprs: Seq[Expression]) => {
          if (exprs.length != 5)
            throw new IllegalArgumentException(
              s"hyperplane_band_keys(vec, dim, bits, bands, seed) takes 5 arguments, got ${exprs.length}")
          val ints = exprs.tail.map { e =>
            if (!e.foldable)
              throw new IllegalArgumentException(
                "hyperplane_band_keys: dim/bits/bands/seed must be integer literals")
            e.eval() match {
              case n: Number => n.intValue()
              case other => throw new IllegalArgumentException(
                s"hyperplane_band_keys: expected integer literal, got $other")
            }
          }
          HyperplaneBandKeys(exprs.head, ints(0), ints(1), ints(2), ints(3))
        })
    }

    val csId = FunctionIdentifier("char_count_sig")
    if (!reg.functionExists(csId)) {
      reg.registerFunction(csId,
        new ExpressionInfo(classOf[CharCountSig].getName, "char_count_sig"),
        (exprs: Seq[Expression]) => CharCountSig(exprs.head))
    }
    val nlId = FunctionIdentifier("nibble_l1")
    if (!reg.functionExists(nlId)) {
      reg.registerFunction(nlId,
        new ExpressionInfo(classOf[NibbleL1].getName, "nibble_l1"),
        (exprs: Seq[Expression]) => NibbleL1(exprs.head, exprs(1)))
    }
  }

  /** Native MinHash signature over array<string> shingles. */
  def minhashSig(shingles: Column, perms: Int): Column =
    call_function("minhash_sig", shingles, org.apache.spark.sql.functions.lit(perms))

  /** Codegen'd Σ aᵢ·bᵢ over array<double> columns. */
  def arrayDot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  /** Per-band hyperplane-LSH bucket keys (array<bigint>, length
    * `bands`) — planes derived from the seed on the executors, so the
    * task binary carries no plane literals. */
  def hyperplaneBandKeys(vec: Column, dim: Int, bits: Int, bands: Int, seed: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("hyperplane_band_keys", vec, lit(dim), lit(bits), lit(bands), lit(seed))
  }

  /** Codegen'd 64-bit SimHash over array<bigint> word hashes. */
  def simhash64(wordHashes: Column): Column = call_function("simhash64", wordHashes)

  /** 16-class × 4-bit saturating character-count signature — a sound
    * edit-distance lower bound via [[nibbleL1]] (see [[CharCountSig]]). */
  def charCountSig(s: Column): Column = call_function("char_count_sig", s)

  /** Σ of per-nibble |aᵢ − bᵢ| over two [[charCountSig]] longs. */
  def nibbleL1(a: Column, b: Column): Column = call_function("nibble_l1", a, b)
}
