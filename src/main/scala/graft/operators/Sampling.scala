package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deterministic dataset splitting + stratified sampling for
  * training-data curation (beyond-reference surface, same family as
  * the Dedup/Similarity operators).
  *
  * Both primitives key on [[TextFunctions.charHash]] — a per-row
  * 56-bit polynomial with a bit-exact DuckDB twin — so splits are
  * reproducible across engines and runs, and changing the seed string
  * reshuffles every assignment:
  *  - [[hashSplit]]: stable train/val/test labels from the id hash,
  *    a pure projection (zero shuffle — every executor labels its own
  *    rows; new rows never move existing rows between splits, unlike
  *    randomSplit);
  *  - [[stratifiedCap]]: at most `cap` rows per stratum, elected by a
  *    salted hash rank — one keyed window, never a global sort, so a
  *    skewed stratum costs only its own partition. */
object Sampling {

  /** Stable bucket 0..99 for an id under a seed. */
  def splitBucket(id: Column, seed: String): Column =
    pmod(TextFunctions.charHash(
      concat(id.cast("string"), lit(":" + seed))), lit(100L))

  /** Adds `bucket` (0..99) and `split` ∈ train/val/test with the given
    * percentages (test takes the remainder). */
  def hashSplit(df: DataFrame, idCol: String, seed: String,
      trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100)
    val b = splitBucket(col(idCol), seed)
    df.withColumn("bucket", b)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Mixture sampling to per-source TOKEN budgets (the domain-mixing
    * step of a training-data pipeline: each source contributes at
    * most its budgeted token mass). Documents are admitted in
    * deterministic salted-hash order until a source's budget is
    * exhausted: a document is kept when the cumulative token count
    * BEFORE it is still under the budget, so the last admitted
    * document may overshoot (greedy prefix — the standard budgeted
    * sampler; never a partial document). Adds `cum_tokens`
    * (inclusive) to the kept rows.
    *
    * 100 TB posture — threshold election, NOT a per-source window
    * over the corpus (a `Window.partitionBy(source)` sorts a dominant
    * source — 60% of a 100 TB mixture — in ONE task): the 56-bit hash
    * space is range-bucketed by its top 10 bits (monotone in the
    * hash, so bucket order IS admission order), one map-side-partial
    * hash agg builds the ≤1024-row-per-source token-mass histogram,
    * a running sum over that tiny frame yields each bucket's
    * exclusive prefix mass, and whole buckets whose prefix already
    * meets the budget are pruned by a broadcast join BEFORE any sort.
    * The per-(source, bucket) cumsum window then touches only the
    * admitted region plus the one boundary bucket — work proportional
    * to the BUDGET, not the source, and spread over ~budget/2^46 of
    * the hash space per task. The admitted rowset and `cum_tokens`
    * values are bit-identical to the naive per-source running sum. */
  def mixtureSample(docs: DataFrame, budgets: DataFrame, idCol: String,
      tokenCol: String, sourceCol: String, seed: String): DataFrame = {
    val h = TextFunctions.charHash(
      concat(col(idCol).cast("string"), lit(":mix:" + seed)))
    // top-10-bit range bucket: monotone in h, so (__b, __h, id) sorts
    // exactly like (__h, id) — the original admission order
    val withB = docs.withColumn("__h", h)
      .withColumn("__b", shiftright(col("__h"), 46))
    val hist = withB.groupBy(col(sourceCol), col("__b"))
      .agg(sum(col(tokenCol)).as("__mass"))
    val wHist = Window.partitionBy(col(sourceCol)).orderBy(col("__b").asc)
    val prefix = hist
      .withColumn("__pre", sum(col("__mass")).over(wHist) - col("__mass"))
      .drop("__mass")
    val wBucket = Window.partitionBy(col(sourceCol), col("__b"))
      .orderBy(col("__h").asc, col(idCol).asc)
    withB
      .join(broadcast(prefix), Seq(sourceCol, "__b"))
      .join(broadcast(budgets), Seq(sourceCol))
      // whole-bucket prune: every row of a bucket whose exclusive
      // prefix mass already meets the budget fails the admission test
      .filter(col("__pre") < col("token_budget"))
      .withColumn("cum_tokens",
        col("__pre") + sum(col(tokenCol)).over(wBucket))
      .filter(col("cum_tokens") - col(tokenCol) < col("token_budget"))
      .drop("__h", "__b", "__pre")
  }

  /** GPT-style sequence packing (concat-and-chunk): documents are
    * concatenated in deterministic salted-hash order and the token
    * stream is cut into fixed `seqLen`-token training sequences
    * ("packs"); a document may straddle pack boundaries (the standard
    * pretraining packing — no padding, no bin-packing heuristics).
    * Zero-token documents are dropped (they occupy no pack space).
    * Emits per document its exclusive `start_offset` in the global
    * token stream, inclusive `cum_tokens`, the `pack_id` holding its
    * first token, `pack_end` holding its last, and `n_packs` spanned.
    *
    * 100 TB posture — the naive form is ONE global running-sum window
    * (a single task sorting the corpus). Same range-bucket trick as
    * [[mixtureSample]], but corpus-global: the top `bucketBits` hash
    * bits bucket the stream (monotone in the hash, so bucket order IS
    * concat order), one map-side-partial agg builds the
    * ≤2^bucketBits-row bucket token-mass histogram, each bucket's
    * exclusive prefix mass comes from a triangular broadcast
    * self-join over that tiny frame (no single-partition exchange
    * anywhere), and the per-bucket cumsum window touches
    * ~1/2^bucketBits of the corpus per task. `start_offset` and every
    * pack id are bit-identical to the naive global window — for ANY
    * bucketBits (the bucketing only re-partitions the same total
    * order). Size bucketBits so one bucket's rows fit an executor's
    * sort: 10 (default, 1024 buckets) suits the test scales; ~14
    * (16K buckets, ≈6 GB/bucket at 100 TB, triangular join ≈2^27
    * pairs over the broadcast histogram) suits a large cluster. */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
      seqLen: Int, seed: String, bucketBits: Int = 10): DataFrame = {
    require(seqLen > 0 && bucketBits >= 1 && bucketBits <= 20)
    val h = TextFunctions.charHash(
      concat(col(idCol).cast("string"), lit(":pack:" + seed)))
    val withB = docs.filter(col(tokenCol) > 0)
      .withColumn("__h", h)
      .withColumn("__b", shiftright(col("__h"), 56 - bucketBits))
    val hist = withB.groupBy(col("__b"))
      .agg(sum(col(tokenCol)).as("__mass"))
    // exclusive prefix mass per bucket WITHOUT a global window: each
    // bucket sums the masses of strictly-earlier buckets over a
    // broadcast copy of the ≤1024-row histogram
    val prefix = hist.select(col("__b"), col("__mass")).as("a")
      .join(broadcast(hist.select(col("__b").as("__pb"),
        col("__mass").as("__pm"))), col("__pb") < col("__b"), "left")
      .groupBy(col("__b"))
      .agg(coalesce(sum(col("__pm")), lit(0L)).as("__pre"))
    val wBucket = Window.partitionBy(col("__b"))
      .orderBy(col("__h").asc, col(idCol).asc)
    withB
      .join(broadcast(prefix), Seq("__b"))
      .withColumn("cum_tokens",
        col("__pre") + sum(col(tokenCol)).over(wBucket))
      .withColumn("start_offset", col("cum_tokens") - col(tokenCol))
      .withColumn("pack_id",
        floor(col("start_offset") / lit(seqLen)).cast("long"))
      .withColumn("pack_end",
        floor((col("cum_tokens") - 1) / lit(seqLen)).cast("long"))
      .withColumn("n_packs", col("pack_end") - col("pack_id") + 1)
      .drop("__h", "__b", "__pre")
  }

  /** Temperature-based mixture resampling (the XLM-R/mT5 domain
    * balancer): each source's sampling weight is `mass^alpha`
    * (alpha < 1 up-weights small sources), the corpus is resampled to
    * `targetNum/targetDen` of its total token mass, and a document is
    * admitted when its salted hash falls under its source's admit
    * probability `min(1, target·w_s/Σw/m_s)` — a pure per-row
    * threshold, so the admitted set is stable under corpus growth
    * within a source's mass. Adds `admit_ppm` (the source's admit
    * probability in parts-per-million).
    *
    * Cross-engine exactness: alpha = 0.5 routes through `sqrt`
    * (correctly rounded per IEEE-754, unlike `pow`), Σw is a
    * sequential fold over the per-source weights in source order
    * (both engines add in the same order → bit-identical), and the
    * total mass / target are exact integer arithmetic. Other alphas
    * use `pow` and may differ from an oracle in the last ulp.
    *
    * 100 TB posture: one map-side-partial agg to the per-source mass
    * frame (≤ thousands of rows), a broadcast self-cross over that
    * tiny frame for the ordered weight fold, then a broadcast join
    * back — the corpus itself never shuffles and admission is a
    * projection-side filter. */
  def temperatureResample(docs: DataFrame, idCol: String,
      tokenCol: String, sourceCol: String, alpha: Double,
      targetNum: Int, targetDen: Int, seed: String): DataFrame = {
    require(targetNum > 0 && targetDen > 0 && alpha > 0)
    val mass = docs.groupBy(col(sourceCol))
      .agg(sum(col(tokenCol)).as("__m"))
      .withColumn("__w",
        if (alpha == 0.5) sqrt(col("__m").cast("double"))
        else pow(col("__m").cast("double"), lit(alpha)))
    val per = mass
      .crossJoin(broadcast(mass.select(col(sourceCol).as("__bs"),
        col("__m").as("__bm"), col("__w").as("__bw"))))
      .groupBy(col(sourceCol), col("__m"), col("__w"))
      .agg(sum(col("__bm")).as("__totm"),
        sort_array(collect_list(struct(col("__bs").as("s"),
          col("__bw").as("w")))).as("__ws"))
      // sequential double fold in source order — the oracle's
      // list_reduce twin adds in the same order, so Σw is bit-exact
      .withColumn("__tot",
        aggregate(col("__ws"), lit(0.0d),
          (acc, x) => acc + x.getField("w")))
      // integer `div`, not `/`: Spark's `/` on integrals is DOUBLE
      // division, which drifts from the oracle's `//` once
      // totm·targetNum approaches 2^53 (plausible at 100 TB token mass)
      .withColumn("__target",
        expr(s"(__totm * $targetNum) div $targetDen"))
      .withColumn("admit_ppm",
        floor(least(lit(1.0d),
          col("__target").cast("double") * col("__w") / col("__tot") /
            col("__m").cast("double")) * lit(1000000.0d)).cast("long"))
      .select(col(sourceCol), col("admit_ppm"))
    docs
      .join(broadcast(per), Seq(sourceCol))
      .filter(pmod(TextFunctions.charHash(
        concat(col(idCol).cast("string"), lit(":temp:" + seed))),
        lit(1000000L)) < col("admit_ppm"))
  }

  /** A whole document placed into a pack by [[packWhole]]. */
  final case class PackedDoc(doc_id: Long, n_tokens: Long, bucket: Long,
      pack_idx: Long, pack_id: Long, fill_after: Long)

  /** Whole-document (no-split) greedy packing — the SFT-style packing
    * where a document NEVER truncates across pack boundaries
    * ([[packSequences]] is the pretraining concat-and-chunk twin that
    * does split): documents are taken in salted-hash order and a
    * document opens a new pack whenever it would overflow the current
    * one (first-fit on the ordered stream, the standard
    * sequential-greedy packer). Documents with tokens outside
    * (0, seqLen] are dropped (an over-long document cannot be packed
    * whole — truncation policy belongs upstream).
    *
    * The greedy fill is a NON-ASSOCIATIVE sequential fold (pack
    * boundaries depend on every prior document), so no window
    * function expresses it. Scale shape: the same top-`bucketBits`
    * hash range bucketing as [[packSequences]] — each bucket is an
    * independent stream folded in one task via a typed
    * `flatMapGroups` (bucket size ∝ corpus/2^bucketBits; size
    * bucketBits so a bucket fits an executor, exactly the
    * packSequences sizing rule), buckets fold in parallel, and pack
    * ids are globally unique as `bucket · 2^32 + pack_idx`. The
    * DuckDB oracle recomputes the fold with a recursive CTE —
    * engine-exact integer arithmetic throughout.
    *
    * MEMORY CONTRACT: each bucket buffers in ONE task (the sort needs
    * the whole bucket), so the sizing rule — 2^bucketBits ≳
    * corpus rows / rows-per-executor-heap — is enforced, not assumed:
    * the buffer counts rows as it fills and fails fast with the
    * observed bucket size and a resize hint once `maxBucketRows` is
    * crossed (default 2^26 ≈ 67M rows ≈ 2 GB of 32-byte tuples — an
    * executor-sized sort), BEFORE the heap dies at 100 TB. Hash
    * bucketing keeps bucket sizes ~uniform, so the check binds only
    * when bucketBits is genuinely undersized. */
  def packWhole(docs: DataFrame, idCol: String, tokenCol: String,
      seqLen: Int, seed: String, bucketBits: Int = 10,
      maxBucketRows: Long = 1L << 26): DataFrame = {
    require(seqLen > 0 && bucketBits >= 1 && bucketBits <= 20)
    require(maxBucketRows >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val h = TextFunctions.charHash(
      concat(col(idCol).cast("string"), lit(":packw:" + seed)))
    docs.filter(col(tokenCol) > 0 && col(tokenCol) <= seqLen)
      .select(col(idCol).cast("long").as("doc_id"),
        col(tokenCol).cast("long").as("n_tokens"),
        h.as("__h"),
        shiftright(h, 56 - bucketBits).as("__b"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._4)
      .flatMapGroups { (bucket: Long, rows: Iterator[(Long, Long, Long, Long)]) =>
        // one bucket folds in one task — ordered by (hash, id), the
        // same total order packSequences concatenates in. The buffer
        // is bounded: fail fast (with a resize hint) instead of
        // letting an undersized bucketBits OOM the executor mid-sort.
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Long, Long)]
        while (rows.hasNext) {
          buf += rows.next()
          if (buf.length > maxBucketRows)
            throw new IllegalStateException(
              s"packWhole bucket $bucket exceeds maxBucketRows=" +
                s"$maxBucketRows — raise bucketBits (currently " +
                s"$bucketBits) so corpus/2^bucketBits fits an executor")
        }
        val ordered = buf.sortBy(t => (t._3, t._1))
        var fill = 0L
        var idx = 0L
        ordered.iterator.map { case (id, n, _, _) =>
          // n <= seqLen is guaranteed, so the first document of a
          // bucket (fill = 0) never triggers the overflow branch
          if (fill + n > seqLen) { idx += 1; fill = 0L }
          fill += n
          PackedDoc(id, n, bucket, idx, bucket * 4294967296L + idx, fill)
        }
      }.toDF()
  }

  /** Keeps at most `cap` rows per stratum, elected deterministically
    * by the salted id hash (ties impossible for distinct ids; the id's
    * zero-padded string form is the final tiebreak for duplicate ids
    * — identical to the id order for non-negative integral or string
    * ids, the engine's id universe).
    *
    * 100 TB posture — bounded election + semi join (the
    * capPerProvenance pattern), not a per-stratum window: real strata
    * are Zipfian (one dominant source can own most of a corpus) and a
    * `Window.partitionBy(strata)` sorts the hot stratum in ONE task.
    * `TopK.topKRows` keeps ≤ cap (hash, id) pairs per (stratum ×
    * partition) map-side; the winners (≤ cap per stratum — tiny) join
    * back LEFT SEMI on (strata, id). Election order is unchanged:
    * hash ASC (score = −hash, exact — hashes are < 2^56), id ASC.
    *
    * CONTRACT — `idCol` is unique per row within a stratum (the
    * urlDedup convention, and what TopKRowsAgg itself requires): the
    * semi join keeps every row whose id was ELECTED, so a duplicated
    * id inflates the kept count past `cap` (cap=1 with id twins
    * returns both twins — the old window form would have kept exactly
    * one arbitrarily, which is not better, just differently wrong).
    * Pipelines with non-unique natural ids must pre-compose a unique
    * row key (e.g. concat(id, pos)). The elected frame is ≤ cap ·
    * |strata| rows, but strata cardinality is unbounded in general, so
    * the semi join's strategy is left to AQE rather than pinned
    * broadcast. */
  def stratifiedCap(df: DataFrame, strata: Seq[String], idCol: String,
      seed: String, cap: Int): DataFrame = {
    val isIntegral = {
      import org.apache.spark.sql.types._
      df.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    val idStr =
      if (isIntegral) lpad(col(idCol).cast("string"), 20, "0")
      else col(idCol).cast("string")
    val h = TextFunctions.charHash(
      concat(col(idCol).cast("string"), lit(":cap:" + seed)))
    val renamed = strata.zipWithIndex.map { case (c, i) => (c, s"__s$i") }
    val elected = df.groupBy(strata.map(col): _*)
      .agg(graft.operators.TopK.topKRows(cap)(-h, idStr,
        lit(null).cast("string")).as("__tk"))
      .select(renamed.map { case (c, a) => col(c).as(a) } :+
        explode(col("__tk.id")).as("__eid"): _*)
    df.join(elected,
      renamed.map { case (c, a) => col(c) <=> col(a) }
        .reduce(_ && _) && idStr === col("__eid"), "left_semi")
  }
}
