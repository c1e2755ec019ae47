package graft.operators

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k aggregation — the scale path for "top k per group"
  * (beyond-reference tier). The window formulation (q08) shuffles
  * EVERY row to its group before ranking; this aggregate keeps at
  * most k (score, id) pairs in the buffer, so map-side partial
  * aggregation bounds the shuffle at k pairs per (group × partition)
  * — at 100 TB with hot groups, the difference between shuffling the
  * corpus and shuffling k·partitions rows. Results are identical to
  * the window top-k (largest score first, ties to the smallest id);
  * the spec pins equality and the q145 oracle recomputes the window
  * form in DuckDB.
  */
object TopK {

  /** Aggregate input: one scored row. */
  final case class ScoredId(score: Long, id: Long)

  /** Packed sorted buffer [s0,i0,s1,i1,...], best first, ≤ k pairs.
    * Order: bigger score first, then smaller id. */
  final class TopKAgg(k: Int)
      extends Aggregator[ScoredId, Array[Long], Seq[ScoredId]] {
    require(k >= 1)

    private def beats(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)

    def zero: Array[Long] = Array.emptyLongArray

    def reduce(buf: Array[Long], x: ScoredId): Array[Long] = {
      val n = buf.length / 2
      // O(k) linear insertion — sized for the top-N-per-group range
      // this engine uses (k ≤ ~100: locations 10, x_concepts 5,
      // topics 25). A large-k caller should switch the scan to binary
      // search + a ring buffer; the k·partitions shuffle bound and
      // the merge are unaffected.
      // find insertion slot (first pair x beats)
      var p = 0
      while (p < n && !beats(x.score, x.id, buf(2 * p), buf(2 * p + 1)))
        p += 1
      if (p >= k) buf
      else {
        val m = math.min(n + 1, k)
        val out = new Array[Long](m * 2)
        System.arraycopy(buf, 0, out, 0, 2 * p)
        out(2 * p) = x.score; out(2 * p + 1) = x.id
        System.arraycopy(buf, 2 * p, out, 2 * p + 2,
          2 * m - 2 * p - 2)
        out
      }
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      val (na, nb) = (a.length / 2, b.length / 2)
      val m = math.min(na + nb, k)
      val out = new Array[Long](m * 2)
      var (i, j, o) = (0, 0, 0)
      while (o < m) {
        val takeA = j >= nb || (i < na &&
          beats(a(2 * i), a(2 * i + 1), b(2 * j), b(2 * j + 1)))
        if (takeA) {
          out(2 * o) = a(2 * i); out(2 * o + 1) = a(2 * i + 1); i += 1
        } else {
          out(2 * o) = b(2 * j); out(2 * o + 1) = b(2 * j + 1); j += 1
        }
        o += 1
      }
      out
    }

    def finish(buf: Array[Long]): Seq[ScoredId] =
      (0 until buf.length / 2).map(p =>
        ScoredId(buf(2 * p), buf(2 * p + 1)))

    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder()
  }

  /** `topK(k)(scoreCol, idCol)` — both LONG columns (the case-class
    * input surfaces as two UDAF parameters). */
  def topK(k: Int): (Column, Column) => Column = {
    val f = udaf(new TopKAgg(k))
    (score, id) => f(score, id)
  }

  /** The first k of two best-first buffers, best first. Buffers are
    * any `Seq`: Spark decodes a buffer as a `List` in generated code
    * but as another `Seq` when it evaluates without codegen (after a
    * compile failure), so nothing here may assume the concrete type. */
  private def mergeTop[T](a: Seq[T], b: Seq[T], k: Int)(
      beats: (T, T) => Boolean): Seq[T] = {
    val out = List.newBuilder[T]
    val (x, y) = (a.iterator.buffered, b.iterator.buffered)
    var n = 0
    while (n < k && (x.hasNext || y.hasNext)) {
      out += (if (!y.hasNext || (x.hasNext && beats(x.head, y.head))) x.next()
        else y.next())
      n += 1
    }
    out.result()
  }

  /** Aggregate input for the payload-carrying variant: score (LONG,
    * bigger = better), id (STRING, ties break ascending), payload
    * (any row data the consumer needs back — typically
    * `to_json(struct(...))`, decoded with `from_json` after the
    * aggregate; may be null). */
  final case class ScoredRow(score: Long, id: String, payload: String)

  /** Payload-carrying bounded top-k — the corpus-scale form of "top k
    * rows per group": where [[TopKAgg]] elects bare (score, id) pairs
    * and the caller joins the winners back (a second corpus shuffle),
    * this variant rides the row's payload THROUGH the aggregate, so
    * one ObjectHashAggregate with map-side partials replaces the
    * window-sort shape entirely — the shuffle carries at most k rows
    * per (group × partition) and the output array arrives already in
    * election order (score DESC, id ASC as STRINGS; zero-pad numeric
    * ids upstream if their natural order must differ from collation).
    * Input ids must be non-null and unique within a group. */
  final class TopKRowsAgg(k: Int)
      extends Aggregator[ScoredRow, Seq[ScoredRow], Seq[ScoredRow]] {
    require(k >= 1)

    private def beats(a: ScoredRow, b: ScoredRow): Boolean =
      a.score > b.score || (a.score == b.score && a.id < b.id)

    def zero: Seq[ScoredRow] = Nil

    // O(k) linear insertion, like TopKAgg — sized for k ≤ ~100
    def reduce(buf: Seq[ScoredRow], x: ScoredRow): Seq[ScoredRow] = {
      val (better, rest) = buf.span(e => !beats(x, e))
      if (better.length >= k) buf
      else (better ++ (x +: rest)).take(k)
    }

    def merge(a: Seq[ScoredRow], b: Seq[ScoredRow]): Seq[ScoredRow] =
      mergeTop(a, b, k)(beats)

    def finish(buf: Seq[ScoredRow]): Seq[ScoredRow] = buf

    def bufferEncoder: Encoder[Seq[ScoredRow]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[ScoredRow]] = ExpressionEncoder()
  }

  /** `topKRows(k)(score, id, payload)` → ARRAY<STRUCT<score, id,
    * payload>> in election order. */
  def topKRows(k: Int): (Column, Column, Column) => Column = {
    val f = udaf(new TopKRowsAgg(k))
    (score, id, payload) => f(score, id, payload)
  }

  /** Aggregate input for the double-scored variant: score (DOUBLE,
    * bigger = better, non-null), id (LONG, ties break ascending). */
  final case class DScoredId(score: Double, id: Long)

  /** DOUBLE-scored bounded top-k — for elections whose score can't be
    * an exact long (raw cosines in the IVF assign/probe path). Same
    * ordering as a `(score DESC, id ASC)` window: doubles compare via
    * `java.lang.Double.compare` — identical to Spark's DoubleType sort
    * order (NaN greatest) except that −0.0 sorts before +0.0 where a
    * window deems them equal ties (similarity scores never produce a
    * signed-zero distinction). Scores must be non-null (a null
    * primitive would decode as 0.0, not sort last like a window's
    * desc_nulls_last). */
  final class TopKDoubleAgg(k: Int)
      extends Aggregator[DScoredId, Seq[DScoredId], Seq[DScoredId]] {
    require(k >= 1)

    private def beats(a: DScoredId, b: DScoredId): Boolean = {
      val c = java.lang.Double.compare(a.score, b.score)
      c > 0 || (c == 0 && a.id < b.id)
    }

    def zero: Seq[DScoredId] = Nil

    // O(k) linear insertion, like TopKAgg — sized for k ≤ ~100
    def reduce(buf: Seq[DScoredId], x: DScoredId): Seq[DScoredId] = {
      val (better, rest) = buf.span(e => !beats(x, e))
      if (better.length >= k) buf
      else (better ++ (x +: rest)).take(k)
    }

    def merge(a: Seq[DScoredId], b: Seq[DScoredId]): Seq[DScoredId] =
      mergeTop(a, b, k)(beats)

    def finish(buf: Seq[DScoredId]): Seq[DScoredId] = buf

    def bufferEncoder: Encoder[Seq[DScoredId]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[DScoredId]] = ExpressionEncoder()
  }

  /** `topKDouble(k)(scoreCol DOUBLE, idCol LONG)` → ARRAY<STRUCT<score,
    * id>> in election order. */
  def topKDouble(k: Int): (Column, Column) => Column = {
    val f = udaf(new TopKDoubleAgg(k))
    (score, id) => f(score, id)
  }
}
