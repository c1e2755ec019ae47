package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd 56-bit polynomial character hash — the
  * dictionary-free word/shingle id on every dedup/fingerprint hot path
  * (SURVEY §7.3: custom Catalyst only where built-ins can't express it
  * EFFICIENTLY).
  *
  * Semantics are IDENTICAL to the interpreted HOF formulation
  * `aggregate(transform(split(s, ""), c => ascii(c)), 0L,
  * (h, c) => (h*31 + c) % 2^56)` (see
  * [[graft.functions.TextFunctions.charHash]]):
  *  - `split(s, "")` yields one element per codepoint (Java regex split
  *    never cuts inside a surrogate pair) and `ascii` returns
  *    `codePointAt(0)`, so the fold visits codepoints in order;
  *  - the empty string folds over `[""]` with `ascii("") = 0`, giving 0
  *    — the same value as an empty loop;
  *  - `h < 2^56` keeps `h*31 + c` inside signed-64 range.
  * Bit-equality with the HOF version is asserted in PlansSpec over the
  * fixture corpus plus unicode edge cases, and the DuckDB oracle
  * reproduces the same fold via `list_reduce` (README protocol).
  *
  * The HOF version runs one interpreted lambda call per CHARACTER (a
  * 30-char shingle = 30 `ascii` evals + 30 fold steps through
  * HigherOrderFunction dispatch); this is a single fused loop inside
  * whole-stage codegen.
  */
case class CharHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_hash requires a STRING argument, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_hash"

  override def nullSafeEval(input: Any): Any =
    CharHash.hashUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val b0 = ctx.freshName("b0")
      val cp = ctx.freshName("cp")
      val l = ctx.freshName("l")
      val k = ctx.freshName("k")
      // Codepoints decoded straight from the UTF8String bytes — no
      // String/byte[] allocation per row (the whole point of this
      // expression). Well-formed UTF-8 is Spark's own invariant for
      // UTF8String column data; decode matches String.codePointAt on
      // such input (verified against the HOF fold in PlansSpec).
      s"""
         |final int $n = $s.numBytes();
         |long $h = 0L;
         |int $i = 0;
         |while ($i < $n) {
         |  final int $b0 = $s.getByte($i) & 0xFF;
         |  int $cp; int $l;
         |  if ($b0 < 0x80) { $cp = $b0; $l = 1; }
         |  else if ($b0 < 0xE0) { $cp = $b0 & 0x1F; $l = 2; }
         |  else if ($b0 < 0xF0) { $cp = $b0 & 0x0F; $l = 3; }
         |  else { $cp = $b0 & 0x07; $l = 4; }
         |  for (int $k = 1; $k < $l && $i + $k < $n; $k++) {
         |    $cp = ($cp << 6) | ($s.getByte($i + $k) & 0x3F);
         |  }
         |  $h = ($h * 31L + $cp) % ${CharHash.Mod}L;
         |  $i += $l;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CharHash =
    copy(child = newChild)
}

object CharHash {
  /** 2^56 — see TextFunctions.CharHashMod for the collision/overflow
    * analysis; kept in sync by a PlansSpec assertion. */
  val Mod: Long = 72057594037927936L

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  /** Interpreted twin of the codegen loop: decode codepoints directly
    * from the UTF8String bytes (no String allocation). Equal to
    * [[hash]] on well-formed UTF-8 — asserted in PlansSpec. */
  def hashUtf8(s: UTF8String): Long = hashRange(s, 0, s.numBytes())

  /** [[hashUtf8]] of the bytes `[from, to)` of `s` — the charHash of
    * that substring, without materializing it (TextKernels' per-token
    * hashes). */
  def hashRange(s: UTF8String, from: Int, to: Int): Long = {
    var h = 0L
    var i = from
    while (i < to) {
      val b0 = s.getByte(i) & 0xFF
      var cp = 0
      var l = 1
      if (b0 < 0x80) { cp = b0; l = 1 }
      else if (b0 < 0xE0) { cp = b0 & 0x1F; l = 2 }
      else if (b0 < 0xF0) { cp = b0 & 0x0F; l = 3 }
      else { cp = b0 & 0x07; l = 4 }
      var k = 1
      while (k < l && i + k < to) {
        cp = (cp << 6) | (s.getByte(i + k) & 0x3F)
        k += 1
      }
      h = (h * 31L + cp) % Mod
      i += l
    }
    h
  }

  /** Register `char_hash` in the session (idempotent, WARN-free). */
  def register(spark: SparkSession): Unit =
    RegisterOnce(spark, "char_hash") { exprs =>
      if (exprs.length != 1) throw new IllegalArgumentException(
        s"char_hash requires exactly 1 argument, got ${exprs.length}")
      CharHash(exprs.head)
    }
}
