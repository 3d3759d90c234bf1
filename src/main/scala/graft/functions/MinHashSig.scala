package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: for each of `perms` seeded xxhash64
  * permutations, the minimum hash over the input shingle set.
  *
  * The SQL formulation (transform over perms × array_min over transform
  * over shingles) allocates a lambda frame and boxes per element —
  * O(perms·n) interpreted closures per row. This expression is one
  * tight primitive double loop (CodegenFallback is fine: the loop body
  * itself is JIT-compiled JVM code, called once per row).
  */
case class MinHashSig(child: Expression, perms: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${t.simpleString(10)}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullable: Boolean = true

  private lazy val seeds: Array[Long] = MinHashMix.seeds(perms)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // empty shingle set has no defined signature — null, not a shared
    // sentinel vector that would band every empty doc together
    if (n == 0) return null
    val sig = Array.fill(perms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // hash the string ONCE, then derive each permutation with a
      // cheap splitmix finalize — O(n + n·perms·mix) not O(n·perms·hash)
      val h0 = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      var p = 0
      while (p < perms) {
        val h = MinHashMix.mix(h0, seeds(p))
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared permutation-hash derivation: one base xxhash64 per shingle,
  * splitmix64-finalized per permutation — stable across runs. */
object MinHashMix {
  /** per-permutation mix seeds (fixed golden-ratio sequence) */
  def seeds(perms: Int): Array[Long] =
    Array.tabulate(perms)(p => (p + 1).toLong * 0x9E3779B97F4A7C15L)

  /** splitmix64 finalizer: turns one base hash + a seed into an
    * independent-enough permutation hash. */
  @inline def mix(h0: Long, seed: Long): Long = {
    var z = h0 ^ seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
