package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature of one shingle-id set: slot i is the
  * minimum over the set of the permutation
  * `h_i(x) = ((x % Prime)·hashA(i) + hashB(i)) % Prime`, in Java `%`
  * semantics (a negative id gives a negative remainder, exactly as
  * Spark's `%` on BIGINT does). The mod-P happens INSIDE the
  * permutation: ids stay full-width 56-bit for identity, and the
  * pre-reduction keeps `x·a_i` inside signed-64 range.
  *
  * Equal to `numHashes` `min(...)` aggregates over the rows the set
  * was collected from (the test-scope spec, DedupSpecs, pinned by
  * RandomizedParitySpec): min is idempotent, so duplicate rows never
  * matter, and a set with no non-null element gives null, as a `min`
  * over no value does. One pass over the set fills every slot, so the
  * aggregation that builds the set carries no per-slot buffers.
  */
case class MinHashSlots(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_slots requires ARRAY<BIGINT>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_slots"

  override def nullSafeEval(input: Any): Any =
    MinHashSlots.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = graft.plans.MinHashSlots.compute($s, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSlots = copy(child = newChild)
}

object MinHashSlots {
  val Prime = 1000003L

  def hashA(i: Int): Long = 101L * i + 37
  def hashB(i: Int): Long = 53L * i + 11

  /** Shared by interpreted eval and the generated code; null when the
    * set holds no non-null element. */
  def compute(set: ArrayData, numHashes: Int): ArrayData = {
    val n = set.numElements()
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    var seen = false
    var e = 0
    while (e < n) {
      if (!set.isNullAt(e)) {
        seen = true
        val r = set.getLong(e) % Prime
        var i = 0
        while (i < numHashes) {
          val h = (r * hashA(i) + hashB(i)) % Prime
          if (h < out(i)) out(i) = h
          i += 1
        }
      }
      e += 1
    }
    if (seen) new GenericArrayData(out) else null
  }
}
