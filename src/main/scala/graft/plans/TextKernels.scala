package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels of the curation funnel: tokens, word shingles,
  * token chunks, per-token charHashes and the top occurrence count.
  *
  * Their Column formulations (`filter`/`zip_with`/`transform`/
  * `aggregate` chains) are Spark higher-order functions, which are
  * `CodegenFallback`: even inside generated code every token paid one
  * interpreted lambda call. Each kernel here is one static loop per
  * row, called from generated code the way [[WindowHashes]] is, and
  * produces the same values, data type and nullability as the chain
  * it replaces (the chains live on as test-scope specs, TextSpecs,
  * pinned by RandomizedParitySpec).
  *
  * A token is a maximal run of bytes other than U+0020: the chains
  * split on `" "` and drop empty strings, so tabs and newlines stay
  * inside tokens and runs of spaces separate like one. Joined outputs
  * (shingles, chunks) put exactly one space between tokens. String
  * arrays are written straight into the UnsafeArrayData layout, so a
  * row costs one allocation for its whole result rather than one
  * String per token. Byte-level splitting equals the chains' String
  * split on well-formed UTF-8, Spark's own invariant for string data
  * (0x20 never occurs inside a multi-byte sequence).
  */
object TextKernels {

  /** Byte bounds of the tokens of `s`: token i spans
    * `[b(2i), b(2i+1))`. */
  private def bounds(s: UTF8String): Array[Int] = {
    val len = s.numBytes()
    var n = 0
    var i = 0
    var inTok = false
    while (i < len) {
      val sp = s.getByte(i) == ' '
      if (!sp && !inTok) n += 1
      inTok = !sp
      i += 1
    }
    val b = new Array[Int](2 * n)
    var t = 0
    i = 0
    inTok = false
    while (i < len) {
      val sp = s.getByte(i) == ' '
      if (!sp && !inTok) { b(2 * t) = i }
      else if (sp && inTok) { b(2 * t + 1) = i; t += 1 }
      inTok = !sp
      i += 1
    }
    if (inTok) b(2 * t + 1) = len
    b
  }

  /** `nElems` strings, element e = tokens [e·step, min(e·step + width,
    * n)) of `s` joined by one space, as one UnsafeArrayData (header,
    * null bits, offset-and-size slots, word-aligned bytes — the layout
    * UnsafeArrayWriter produces). */
  private def joined(s: UTF8String, b: Array[Int], step: Int, width: Int,
      nElems: Int): ArrayData = {
    val nTok = b.length / 2
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(nElems)
    var size = header + 8L * nElems
    var e = 0
    while (e < nElems) {
      val lo = e * step
      val hi = math.min(lo + width, nTok) - 1
      size += ByteArrayMethods.roundNumberOfBytesToNearestWord(
        joinedLen(b, lo, hi))
      e += 1
    }
    if (size > Int.MaxValue - 8) throw new IllegalArgumentException(
      s"text kernel result of $size bytes exceeds the array size limit")
    val words = new Array[Long]((size / 8).toInt)
    val base = Platform.LONG_ARRAY_OFFSET
    Platform.putLong(words, base, nElems.toLong)
    val src = s.getBaseObject
    val srcOff = s.getBaseOffset
    var cursor = header + 8L * nElems
    e = 0
    while (e < nElems) {
      val lo = e * step
      val hi = math.min(lo + width, nTok) - 1
      val start = cursor
      var t = lo
      while (t <= hi) {
        if (t > lo) { Platform.putByte(words, base + cursor, ' '); cursor += 1 }
        val tl = b(2 * t + 1) - b(2 * t)
        Platform.copyMemory(src, srcOff + b(2 * t), words, base + cursor, tl)
        cursor += tl
        t += 1
      }
      val len = (cursor - start).toInt
      Platform.putLong(words, base + header + 8L * e, (start << 32) | len)
      cursor = start + ByteArrayMethods.roundNumberOfBytesToNearestWord(len)
      e += 1
    }
    val out = new UnsafeArrayData
    out.pointTo(words, base, size.toInt)
    out
  }

  /** Byte length of tokens lo..hi (inclusive) joined by single spaces. */
  private def joinedLen(b: Array[Int], lo: Int, hi: Int): Int = {
    var l = hi - lo
    var t = lo
    while (t <= hi) { l += b(2 * t + 1) - b(2 * t); t += 1 }
    l
  }

  /** Space-separated tokens, empty ones dropped; null for null text. */
  def tokens(s: UTF8String): ArrayData =
    if (s == null) null
    else {
      val b = bounds(s)
      joined(s, b, 1, 1, b.length / 2)
    }

  /** Word k-shingles; empty for null text or fewer than k tokens. */
  def wordShingles(s: UTF8String, k: Int): ArrayData = {
    val t = if (s == null) UTF8String.EMPTY_UTF8 else s
    val b = bounds(t)
    joined(t, b, 1, k, math.max(0, b.length / 2 - k + 1))
  }

  /** Consecutive `chunkSize`-token chunks, the last one possibly
    * shorter; empty for null or token-less text. */
  def tokenChunks(s: UTF8String, chunkSize: Int): ArrayData = {
    val t = if (s == null) UTF8String.EMPTY_UTF8 else s
    val b = bounds(t)
    joined(t, b, chunkSize, chunkSize,
      (b.length / 2 + chunkSize - 1) / chunkSize)
  }

  /** charHash of every token, as a primitive BIGINT array; null for
    * null text. */
  def tokenHashes(s: UTF8String): ArrayData = {
    if (s == null) return null
    val b = bounds(s)
    val n = b.length / 2
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(n)
    val words = new Array[Long](header / 8 + n)
    words(0) = n
    var t = 0
    while (t < n) {
      words(header / 8 + t) = CharHash.hashRange(s, b(2 * t), b(2 * t + 1))
      t += 1
    }
    val out = new UnsafeArrayData
    out.pointTo(words, Platform.LONG_ARRAY_OFFSET, 8 * words.length)
    out
  }

  /** Highest occurrence count of any element (nulls count as one
    * value); 0 for a null or empty array. */
  def topCount(a: ArrayData): Int = {
    if (a == null) return 0
    val n = a.numElements()
    val vals = new Array[UTF8String](n)
    var m = 0
    var nulls = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) nulls += 1
      else { vals(m) = a.getUTF8String(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(vals.asInstanceOf[Array[AnyRef]], 0, m)
    var best = nulls
    var run = 0
    i = 0
    while (i < m) {
      run = if (i > 0 && vals(i) == vals(i - 1)) run + 1 else 1
      if (run > best) best = run
      i += 1
    }
    best
  }
}

/** Shared shape of the string-in kernels: implicit cast to STRING like
  * the `split` the chains start from, one static call per row. */
sealed trait TextKernel extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)

  /** The per-row loop (null text allowed). */
  protected def run(s: UTF8String): ArrayData

  /** Java call of [[run]] on argument `s`. */
  protected def call(s: String): String

  override def eval(input: InternalRow): Any =
    run(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  ${call(s"(${c.isNull} ? null : ${c.value})")};
      |boolean ${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  }
}

/** `filter(split(text, " "), t -> t != "")`. */
case class Tokens(child: Expression) extends TextKernel {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "tokens"
  override protected def run(s: UTF8String) = TextKernels.tokens(s)
  override protected def call(s: String) = s"graft.plans.TextKernels.tokens($s)"
  override protected def withNewChildInternal(c: Expression): Tokens = copy(child = c)
}

/** charHash over every token: `transform(tokens(text), charHash)`. */
case class TokenHashes(child: Expression) extends TextKernel {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "token_hashes"
  override protected def run(s: UTF8String) = TextKernels.tokenHashes(s)
  override protected def call(s: String) = s"graft.plans.TextKernels.tokenHashes($s)"
  override protected def withNewChildInternal(c: Expression): TokenHashes = copy(child = c)
}

/** Word k-shingles (the k−1 `zip_with` passes over shifted slices). */
case class WordShingles(child: Expression, k: Int) extends TextKernel {
  require(k >= 1, s"word shingles need k >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_shingles"
  override protected def run(s: UTF8String) = TextKernels.wordShingles(s, k)
  override protected def call(s: String) = s"graft.plans.TextKernels.wordShingles($s, $k)"
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
}

/** Fixed-size token chunks (the `transform(sequence, array_join(slice))`
  * chain). */
case class TokenChunks(child: Expression, chunkSize: Int) extends TextKernel {
  require(chunkSize >= 1, s"token chunks need a size >= 1, got $chunkSize")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "token_chunks"
  override protected def run(s: UTF8String) = TextKernels.tokenChunks(s, chunkSize)
  override protected def call(s: String) =
    s"graft.plans.TextKernels.tokenChunks($s, $chunkSize)"
  override protected def withNewChildInternal(c: Expression): TokenChunks = copy(child = c)
}

/** Longest equal run of the sorted string array (the `array_sort` +
  * `aggregate` fold). */
case class TopCount(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_count requires ARRAY<STRING>, got ${other.catalogString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "top_count"

  override def eval(input: InternalRow): Any =
    TextKernels.topCount(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = graft.plans.TextKernels.topCount(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): TopCount = copy(child = c)
}
