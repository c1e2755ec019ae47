package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Beyond-reference surface
  * (the reference dedups only by key + content hash,
  * CreateLocationsMapped.sql:103-113, CreateWorksEnriched.ipynb:547).
  *
  * Scale design:
  *  - candidate generation NEVER does an all-pairs join: MinHash pairs
  *    come from band-bucket equijoins, SimHash pairs from byte-block
  *    equijoins (pigeonhole: ≤3 differing bits of 32 ⇒ ≥1 of 4 bytes
  *    equal), Jaccard pairs from rare-shingle (document-frequency
  *    filtered) prefix blocking. All are shuffle-on-key joins AQE can
  *    skew-split.
  *  - shingle→integer ids are `TextFunctions.charHash` — a per-row
  *    56-bit polynomial hash (no vocabulary shuffle, no global sort)
  *    that a SQL oracle reproduces exactly.
  */
object Dedup {
  val Prime: Long = graft.plans.MinHashSlots.Prime

  /** Exact dedup: md5 content groups with min-id canonical row. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Bloom-prefiltered INCREMENTAL exact dedup — "which of today's
    * batch is already in the corpus", at 100 TB: the corpus's content
    * hashes fold into a Bloom filter (a treeAggregate-backed
    * `stat.bloomFilter` pass — ONE corpus pass when the caller passes
    * `expectedItems` from table metadata, as production does), a batch
    * row whose hash MISSES the filter is definitely new (Bloom filters
    * have no false negatives), and only the filter HITS — |batch|·fpp
    * false positives + the true dups — reach the exact verification:
    * the corpus streams ONCE more map-side against the broadcast hit
    * set, comparing text VERBATIM (hash collisions can't false-flag).
    * The result is EXACTLY the plain text-equality anti-join — that IS
    * the registered oracle, like SaltedJoin's unsalted-join oracle:
    * the filter is a pure pruning refinement. The membership probe is
    * a scala UDF over the broadcast filter — the one place a UDF beats
    * the alternatives (no built-in column function probes a
    * BloomFilter; the probe is two hashes + bit reads per row, and it
    * PREVENTS a corpus-scale shuffle). Returns the batch + `is_seen`.
    *
    * MEMORY BUDGET — the filter must fit the driver and every
    * executor as ONE broadcast: ~1.2 GB per 10⁹ distinct keys at 1%
    * FPP (≈ 9.6 bits/key), so up to a few-billion-document corpus is
    * one filter. Past ~10¹⁰ keys (≳ 12 GB) a single filter stops
    * broadcasting — shard the corpus into a FILTER BANK (e.g. by
    * pmod(hash, shards), building one filter per shard over that
    * shard's rows and probing batch rows against their shard's
    * filter); this operator deliberately does not hide that split
    * behind the single-filter API. */
  /** The filter-build half, separated so production builds it ONCE
    * per corpus version and reuses it across daily batches (the
    * convenience overloads below build inline — an eager corpus pass
    * at plan-construction, acceptable only for one-shot runs).
    *
    * `expectedItems` sizes the filter WITHOUT counting the corpus —
    * pass the row count production already has (Delta/parquet table
    * metadata): the build is then genuinely ONE corpus pass.
    * Oversizing is safe (a larger filter only lowers the realized
    * FPP); undersizing degrades FPP but NEVER correctness — false
    * positives are re-verified verbatim downstream. */
  def corpusBloom(corpus: DataFrame, textCol: String, fpp: Double,
      expectedItems: Long): org.apache.spark.util.sketch.BloomFilter = {
    require(expectedItems > 0, s"expectedItems must be > 0 (got $expectedItems)")
    corpus.select(TextFunctions.charHash(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
  }

  /** Convenience fallback when no metadata count exists: counts the
    * corpus first to size the filter — TWO corpus passes (count +
    * build). One-shot runs only; production passes `expectedItems`. */
  def corpusBloom(corpus: DataFrame, textCol: String,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val ch = corpus.select(TextFunctions.charHash(col(textCol)).as("__h"))
    ch.stat.bloomFilter("__h", math.max(1L, ch.count()), fpp)
  }

  def bloomSeenFlags(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, fpp: Double): DataFrame =
    bloomSeenFlags(corpus, batch, idCol, textCol,
      corpusBloom(corpus, textCol, fpp))

  def bloomSeenFlags(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): DataFrame =
    bloomSeenFlags(corpus, batch, idCol, textCol, 0.01)

  /** CONTRACT — the batch is SMALL relative to the corpus (the
    * operator's stated shape: "today's batch vs the corpus"). The
    * broadcast candidate set is bounded by the batch's distinct
    * filter-hit texts (true dups + |batch|·fpp false positives), so a
    * caller passing batch ≈ corpus broadcasts a corpus-sized frame to
    * the driver. For corpus-vs-corpus dedup use [[exactGroups]] (one
    * keyed hash aggregate) — the Bloom path buys nothing there. */
  def bloomSeenFlags(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String,
      bf: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val spark = corpus.sparkSession
    val ch = corpus.select(TextFunctions.charHash(col(textCol)).as("__h"),
      col(textCol).as("__t"))
    val bcast = spark.sparkContext.broadcast(bf)
    val might = udf((h: Long) => bcast.value.mightContainLong(h))
    val bh = batch.withColumn("__bh",
      TextFunctions.charHash(col(textCol)))
    val candidates = bh
      .filter(might(col("__bh")))
      .select(col("__bh"), col(textCol).as("__bt"), col(idCol).as("__bid"))
      .distinct()
    // corpus streams map-side against the broadcast candidates; only
    // verbatim-equal texts survive → the confirmed-seen batch ids
    val seen = ch.join(broadcast(candidates),
        col("__h") === col("__bh") && col("__t") === col("__bt"))
      .select(col("__bid").as(idCol)).distinct()
      .withColumn("__seen", lit(true))
    bh.drop("__bh")
      .join(seen, Seq(idCol), "left")
      .withColumn("is_seen", coalesce(col("__seen"), lit(false)))
      .drop("__seen")
  }

  /** (id, shingle) pairs — NOT deduplicated: a shingle repeating inside
    * one doc emits repeated rows. Every downstream consumer here is
    * duplicate-safe (min-fold signatures, collect_set document sets),
    * so the explicit `.distinct()` this had — a full shuffle of the
    * widest frame in the whole dedup pipeline, BEFORE map-side partial
    * aggregation can shrink it — was pure cost. Callers that need
    * per-doc distinct counts take `size(collect_set(...))`. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), explode(TextFunctions.wordShingles(col(textCol), k)).as("shingle"))

  /** Attach integer shingle ids: per-row 56-bit
    * [[TextFunctions.charHash]] — full-width ids, so distinct shingles
    * essentially never collide, and NO vocabulary-wide shuffle or sort. */
  def withShingleIds(sh: DataFrame): DataFrame =
    sh.withColumn("sid", TextFunctions.charHash(col("shingle")))

  def hashA(i: Int): Long = graft.plans.MinHashSlots.hashA(i)
  def hashB(i: Int): Long = graft.plans.MinHashSlots.hashB(i)

  /** MinHash signature AND the per-doc sorted shingle-id set: the
    * signature feeds LSH banding, the set feeds exact-Jaccard
    * verification. The aggregation collects only the set (duplicate
    * input rows collapse in the collect_set partials); the
    * `numHashes` permutation minima h_i(x)=((x mod P)·a_i+b_i) mod P
    * are then taken from the set per row by one native kernel
    * ([[graft.plans.MinHashSlots]]), so no partial buffer carries
    * per-slot state. A doc whose sids are all null gets null slots
    * and an empty set. `sid` must be an integral column. Output:
    * (idCol, s0..sN-1, set, n). */
  def signatureWithSets(ids: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val sidType = ids.select(col("sid")).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(sidType),
      s"signatureWithSets needs an integral sid column, got ${sidType.catalogString}")
    val sets = ids.groupBy(col(idCol))
      .agg(sort_array(collect_set(col("sid"))).as("set"))
    val slots = org.apache.spark.sql.GraftExpr.column(graft.plans.MinHashSlots(
      org.apache.spark.sql.GraftExpr.expression(col("set").cast("array<bigint>")),
      numHashes))
    sets.select(col(idCol), col("set"), slots.as("__mh"))
      .select(col(idCol) +: (0 until numHashes).map(i =>
        col("__mh").getItem(i).as(s"s$i")) :+ col("set") :+
        size(col("set")).as("n"): _*)
  }

  /** LSH banding: candidate pairs sharing at least one band key.
    * bands×rowsPerBand must equal the signature width. */
  def lshCandidates(sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"s${b * rowsPerBand + r}"))
      concat_ws("|", cols: _*).as(s"k$b")
    }
    val withKeys = sig.select(col(idCol) +: bandKeys: _*)
    val tall = withKeys.select(col(idCol).as("doc"),
      posexplode(array((0 until bands).map(b => col(s"k$b")): _*)).as(Seq("band", "key")))
    val a = tall.select(col("doc").as("da"), col("band"), col("key"))
    val b = tall.select(col("doc").as("db"), col("band"), col("key"))
    a.join(b, Seq("band", "key")).filter(col("da") < col("db"))
      .select(col("da"), col("db")).distinct()
  }

  /** Exact Jaccard over shingle sets for given candidate pairs.
    * Each doc's distinct shingles are packed into ONE sorted array, so
    * a candidate pair costs two hash-join probes plus an in-memory
    * array_intersect — no row-per-common-shingle blowup (the naive
    * shingle⨝shingle intersection join materializes |A∩B| rows per
    * pair; at 50k docs that was the dominant cost of the whole bench). */
  /** Per-doc sorted distinct shingle-id sets: (idCol, set, n). String
    * shingles are charHashed here, once per doc — jaccard over 56-bit
    * hashed ids equals jaccard over the strings (collisions negligible,
    * see TextFunctions.CharHashMod). Duplicate input rows collapse in
    * the collect_set (map-side partial), so callers feed raw
    * [[shingles]] output with no distinct pass. */
  def docSets(sh: DataFrame, idCol: String): DataFrame = {
    val isLong = sh.schema(sh.schema.fieldIndex("shingle")).dataType ==
      org.apache.spark.sql.types.LongType
    val sid = if (isLong) col("shingle") else TextFunctions.charHash(col("shingle"))
    sh.groupBy(col(idCol))
      .agg(sort_array(collect_set(sid)).as("set"))
      .withColumn("n", size(col("set")))
  }

  def jaccardForPairs(pairs: DataFrame, sh: DataFrame, idCol: String): DataFrame =
    jaccardForSets(pairs, docSets(sh, idCol), idCol)

  /** Exact Jaccard for candidate pairs over precomputed [[docSets]]
    * (callers that already aggregated per doc — e.g. a combined
    * signature+set pass — skip the extra shuffle). The per-pair
    * intersection size is the codegen'd two-pointer merge
    * (plans/SortedIntersectCount) — semantically
    * size(array_intersect(sa, sb)), but allocation-free: array_intersect
    * rebuilds a hash set + materializes the intersection array per pair,
    * so a hub doc in k candidate pairs pays that k times. */
  def jaccardForSets(pairs: DataFrame, sets: DataFrame, idCol: String): DataFrame = {
    val common = org.apache.spark.sql.GraftExpr.column(
      graft.plans.SortedIntersectCount(
        org.apache.spark.sql.GraftExpr.expression(col("sa")),
        org.apache.spark.sql.GraftExpr.expression(col("sb"))))
    val s = sets.select(col(idCol), col("set"), col("n"))
    pairs
      .join(s.select(col(idCol).as("da"), col("set").as("sa"), col("n").as("na")), "da")
      .join(s.select(col(idCol).as("db"), col("set").as("sb"), col("n").as("nb")), "db")
      .withColumn("common", common)
      // floor(x·1e6+0.5)/1e6: deterministic 6-decimal rounding — pure
      // IEEE arithmetic, bit-identical across engines (see SURVEY §8).
      .withColumn("jaccard", floor(col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double") * 1000000 + 0.5) / 1000000.0)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Rare-shingle (df ≤ maxDf) prefix blocking: candidate pairs sharing
    * at least `minCommon` low-document-frequency shingles. `minCommon=2`
    * kills the long tail of single-coincidence pairs (the candidate
    * count, not the verification cost, dominates at scale); true
    * near-dups above jaccard ≈ 0.5 share dozens of shingles, so the
    * recall cost is marginal. */
  def rareShingleCandidates(sh: DataFrame, idCol: String, maxDf: Int,
      minCommon: Int = 1): DataFrame = {
    // Aggregation state is BOUNDED at every step — a stopword-like
    // shingle with millions of docs must never materialize its whole id
    // set in one aggregation buffer (map-side partials don't bound the
    // reduce-side merge), and must never funnel through one task's
    // sorter either (a count window partitioned by shingle sends every
    // row of the hottest shingle to ONE task — spill-safe but a
    // guaranteed straggler at scale). So: hash aggregates only.
    //  1. (shingle, doc) dedup — hash aggregate, O(1) state per key;
    //  2. df via groupBy(shingle).count — O(1) state, map-side partials
    //     shrink hot shingles BEFORE the shuffle — then df ∈ [2, maxDf]
    //     filter; the surviving rare-shingle frame is narrow (one
    //     column) and strictly smaller than the input vocabulary;
    //  3. equijoin back on shingle (AQE picks broadcast/shuffle-hash by
    //     measured size — the rare side is NOT assumed broadcast-able:
    //     at 100 TB most of the vocabulary is rare) + collect_set over
    //     the survivors — ≤ maxDf ids per buffer, provably bounded.
    // The ≤ C(maxDf,2) ordered pairs per rare shingle are then generated
    // IN-ARRAY (arrays are ≤ maxDf elements, so the nested transform is
    // O(maxDf²) with tiny constants) — no rare⨝sh filter join, no a⨝b
    // self-join.
    val distinctPairs = sh.select(col("shingle"), col(idCol)).distinct()
    val rare = distinctPairs.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, maxDf))
      .select(col("shingle"))
    val docs = distinctPairs.join(rare, "shingle")
      .groupBy(col("shingle"))
      .agg(sort_array(collect_set(col(idCol))).as("ds"))
    val pairs = flatten(transform(col("ds"), (d, i) =>
      transform(slice(col("ds"), i + lit(2), size(col("ds")) - i - 1),
        e => struct(d.as("da"), e.as("db")))))
    docs.select(explode(pairs).as("p"))
      .select(col("p.da"), col("p.db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("__rc"))
      .filter(col("__rc") >= minCommon)
      .select(col("da"), col("db"))
  }

  val SimhashMul = 2654435761L
  val SimhashBits = 32

  /** 32-bit SimHash from word-frequency features: one aggregation with
    * 32 bit-sum columns (no bit explode). */
  def simHash(wordIds: DataFrame, idCol: String): DataFrame = {
    // wordIds: (id, wid, cnt)
    val wh = (col("wid").cast("long") * SimhashMul + 97) % 4294967296L
    val withWh = wordIds.withColumn("wh", wh)
    val bitSums = (0 until SimhashBits).map { j =>
      sum(col("cnt") * (shiftright(col("wh"), j).bitwiseAND(lit(1L)) * 2 - 1)).as(s"bs$j")
    }
    val sums = withWh.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val fingerprint = (0 until SimhashBits).map { j =>
      when(col(s"bs$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), fingerprint.as("simhash"))
  }

  /** Near-dup pairs by Hamming distance ≤ maxDist via byte-block LSH:
    * pairs must share one of the four exact bytes (pigeonhole for
    * maxDist ≤ 3). */
  def simHashPairs(sig: DataFrame, idCol: String, maxDist: Int): DataFrame = {
    require(maxDist <= 3, "byte blocking guarantees recall only for maxDist <= 3")
    val tall = sig.select(col(idCol).as("doc"), col("simhash"),
      posexplode(array((0 until 4).map(k =>
        shiftright(col("simhash"), 8 * k).bitwiseAND(lit(255L))): _*)).as(Seq("blk", "bval")))
    val a = tall.select(col("doc").as("da"), col("simhash").as("ha"), col("blk"), col("bval"))
    val b = tall.select(col("doc").as("db"), col("simhash").as("hb"), col("blk"), col("bval"))
    a.join(b, Seq("blk", "bval")).filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Benchmark decontamination (the standard n-gram-overlap screen a
    * training corpus runs against its eval sets): a document is
    * contaminated when it shares at least `minCommon` DISTINCT
    * shingles with any single benchmark document.
    *
    * Input is raw [[shingles]] output for both sides; repeated
    * shingles collapse on the way. The benchmark side is eval-set
    * sized: its distinct (shingle, bench id) rows are broadcast, so the
    * corpus never shuffles for the match. Corpus rows whose shingle
    * the eval set holds are de-duplicated per (doc, shingle), joined
    * to the broadcast again and counted per (doc, bench): both keyed
    * aggregations are ones the map-side partials shrink, where a
    * count-distinct shuffles every (doc, bench, shingle) hit. Both
    * probes read one shuffle of the eval side (a reused exchange).
    * Null bench ids count like any other id; null shingles match
    * nothing.
    *
    * @return (idCol, bench_id, n_common) pairs at n_common >= minCommon */
  def contaminationPairs(docShingles: DataFrame, benchShingles: DataFrame,
      idCol: String, minCommon: Int): DataFrame = {
    val bench = benchShingles
      .select(col("shingle"), col(idCol).as("bench_id")).distinct()
    docShingles.select(col(idCol), col("shingle"))
      .join(broadcast(bench), Seq("shingle"), "left_semi")
      .distinct()
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col(idCol), col("bench_id"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
  }

  /** Drops every contaminated document: one broadcast anti-join
    * (the pair table is bounded by corpus-hits × eval size). */
  def decontaminate(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    docs.join(broadcast(pairs.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")

  /** Transitive duplicate clusters over a candidate-pair graph: every
    * node gets `cluster_id` = the MIN doc id reachable through pairs,
    * so borderline chains (A~B, B~C but not A~C) collapse into one
    * group with a deterministic canonical representative.
    *
    * Algorithm: min-label propagation with pointer jumping — each
    * round a node adopts the minimum label among itself and its
    * neighbors, then labels chase their own label's label (path
    * halving), so reach doubles per round: `maxIter` rounds cover
    * components of diameter 2^maxIter. Every step is a keyed
    * shuffle/aggregation (the distributed-CC shape of the large-star/
    * small-star family); no step collects rows to one process.
    *
    * Round 1 reads the edges alone (label = least(id, min neighbor)).
    * Every later round is one plan over the previous round's landed
    * labels, so rounds 3 on reuse the generated classes of round 2.
    * Each round lands at a Materialize parquet boundary (the plan
    * stays bounded at any scale), and the landing job also counts the
    * labels the round changed (`Dataset.observe`, no extra job). A
    * round is a deterministic function of the labels it reads, so the
    * loop stops after the first round that changes none: later rounds
    * could change nothing either, and the result equals that of
    * running all `maxIter` rounds. `maxIter` only caps the rounds (the
    * default 8 covers diameter 256, far past the borderline chains a
    * real corpus produces).
    *
    * @param pairs candidate pairs (both orientations implied)
    * @return (id, cluster_id) for every node appearing in `pairs` */
  def connectedComponents(pairs: DataFrame, idA: String = "da",
      idB: String = "db", maxIter: Int = 8): DataFrame = {
    // edges land ONCE (read again every round); a round references
    // the labels before it more than once (neighbor join, union,
    // pointer jump), so an un-landed loop would re-expand every prior
    // round per reference and the plan would grow geometrically
    val edges = graft.core.Materialize.temp(
      pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .union(pairs.select(col(idB).as("src"), col(idA).as("dst"))),
      "graft-cc-edges")._1
    if (maxIter < 1)
      return edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("cluster_id"))
    // (id, label, __old) → pointer jump: label := label(label); the
    // label a round started from rides along as __old
    def jump(l1: DataFrame): DataFrame = l1
      .join(l1.select(col("id").as("label"), col("label").as("__ll")),
        Seq("label"), "left")
      .select(col("id"), coalesce(col("__ll"), col("label")).as("label"),
        col("__old"))
    // lands (id, label); the landing job counts the changed labels
    def land(round: DataFrame): (DataFrame, Long) = {
      val changed = Observation()
      val landed = graft.core.Materialize.temp(round
        .observe(changed, count_if(!(col("label") <=> col("__old"))).as("n"))
        .select(col("id"), col("label")), "graft-cc")._1
      (landed, changed.get("n").asInstanceOf[Long])
    }
    // rounds 2 on: min over own and neighbor labels, one plan shape
    def next(labels: DataFrame): DataFrame = {
      val old = labels.withColumn("__old", col("label"))
      val nbr = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label"),
          lit(null).cast(old.schema("__old").dataType).as("__old"))
      nbr.unionByName(old).groupBy(col("id"))
        .agg(min(col("label")).as("label"), min(col("__old")).as("__old"))
    }
    @scala.annotation.tailrec
    def loop(labels: DataFrame, changed: Long, round: Int): DataFrame =
      if (changed == 0 || round == maxIter) labels
      else {
        val (landed, n) = land(jump(next(labels)))
        loop(landed, n, round + 1)
      }
    val first = edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("label"),
        col("id").as("__old"))
    val (labels, changed) = land(jump(first))
    loop(labels, changed, 1)
      .select(col("id"), col("label").as("cluster_id"))
  }
}
