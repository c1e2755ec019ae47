package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Vector similarity / approximate-nearest-neighbor operators over
  * ARRAY<FLOAT> embedding columns (reference anchor: cosine-similarity
  * SQL over ai_query embeddings,
  * notebooks/vector_search/ComputeAuthorshipSimilarity.ipynb:9,65-101 —
  * which batches the big join by `author_id % 5`; our scale path is
  * hyperplane-LSH bucketing instead of modulo batching).
  *
  * All arithmetic is `zip_with` + sequential `aggregate` folds in DOUBLE
  * — deterministic order, reproducible against the SQL oracle.
  */
object Similarity {

  /** Cast a float vector to double for deterministic arithmetic. */
  def toDoubleVec(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential dot product (ascending index, exact order). Uses the
    * codegen'd native expression (graft.plans.ArrayDotProduct — same
    * bit-for-bit semantics as the `aggregate(zip_with(...))` fold, but
    * stays in whole-stage codegen instead of interpreting two lambdas
    * per element). The session must have it registered — done by
    * `core.Tables`, `bruteForceTopK` and the test harness. */
  def dot(a: Column, b: Column): Column =
    call_function("array_dot", a, b)

  /** The pure-built-in fold (reference semantics; used to cross-check
    * the native expression). */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine = dot/(|a|·|b|) — formula shape matters for bit parity. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: the CORRECTNESS baseline. The query set
    * must be small (broadcast); candidates stream — cost O(|Q|·N), one
    * broadcast-nested-loop, no shuffle of the big side. Norms are
    * computed once per VECTOR, not once per pair (same arithmetic, so
    * results are bit-identical — only the evaluation count changes). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    graft.plans.ArrayDotProduct.register(emb.sparkSession)
    val e = emb.select(col(idCol), toDoubleVec(col(vecCol)).as("__v"))
      .withColumn("__norm", norm(col("__v")))
    val q = e.filter(queryPred).select(col(idCol).as("q_id"),
      col("__v").as("__qv"), col("__norm").as("__qn"))
    val cand = e.select(col(idCol).as("c_id"), col("__v").as("__cv"),
      col("__norm").as("__cn"))
    val scored = cand.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("cos", floor(dot(col("__qv"), col("__cv")) /
        (col("__qn") * col("__cn")) * 1000000 + 0.5) / 1000000.0)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplanes: pure integer arithmetic
    * (identical in any engine), values in [-0.5, 0.5). */
  def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { i =>
      (0 until dim).map { j =>
        ((i.toLong * dim + j) * 2654435761L % 1000003L).toDouble / 1000003.0 - 0.5
      }
    }

  /** Sign-bit LSH bucket id from hyperplane dot products — the SCALE
    * path: bucket equijoin replaces the all-pairs similarity join. */
  def hyperplaneBucket(v: Column, ps: Seq[Seq[Double]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      val parr = array(p.map(lit): _*)
      when(dot(v, parr) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** IVF coarse quantization: score every vector against the (small,
    * broadcast) centroid table and keep the top `nProbe` cells by
    * (cosine DESC, centroid id ASC — deterministic ties). `nProbe = 1`
    * is list ASSIGNMENT; queries probe with `nProbe ≥ 1`.
    *
    * ZERO-shuffle: the centroids pack to ONE broadcast row of K
    * structs (the packedStats convention — the global fold crosses
    * only K ≈ √N rows, bounded by design), and each vector's election
    * is an IN-ARRAY score-sort-slice projection: no row explosion, no
    * exchange anywhere — the r15 window form shuffled the N·K scored
    * frame, the interim aggregate form still exchanged N buffer rows.
    * Per-row cost is the same O(K) dot products either way; ties and
    * ordering match the window form exactly (cos DESC, cent_id ASC),
    * INCLUDING NaN: a zero-norm vector or centroid yields NaN cosines,
    * and the comparator orders NaN as GREATEST (Spark's sort-order
    * convention — `orderBy(desc)` puts NaN first), so a degenerate
    * input destabilizes nothing; it deterministically elects the
    * lowest-id NaN-scored centroid, exactly as the window form did.
    * @param cent (cent_id LONG, cv DOUBLE[], cn norm) */
  /** Centroids packed to ONE row of K structs (the packedStats
    * convention) — the broadcast side of the in-array election. */
  private def packCentroids(cent: DataFrame): DataFrame =
    cent.agg(sort_array(collect_list(struct(
      col("cent_id").cast("long").as("cent_id"), col("cv"), col("cn"))))
      .as("__cents"))

  /** Top-`nProbe` cells by (cosine DESC, cent_id ASC) as an in-array
    * sorted slice over the packed `__cents` column — the shared
    * election expression of [[ivfCells]] and the trainer's inline
    * assignment (same expressions ⇒ bit-identical cells). */
  private def topCellsExpr(vecCol: String, normCol: String,
      nProbe: Int): Column = {
    val scores = transform(col("__cents"), c => struct(
      (dot(col(vecCol), c.getField("cv")) /
        (col(normCol) * c.getField("cn"))).as("cos"),
      c.getField("cent_id").as("cent_id")))
    // NaN branches FIRST: `>`/`<` are false for NaN operands, so
    // without them two NaN scores (or NaN vs number) would fall
    // through to 0/centroid order nondeterministically vs the window
    // twin's total order (NaN greatest, i.e. first under DESC)
    val isN = (c: Column) => isnan(c.getField("cos"))
    val byCosDesc: (Column, Column) => Column = (l, r) =>
      when(isN(l) && !isN(r), -1)
        .when(!isN(l) && isN(r), 1)
        .when(!isN(l) && !isN(r) && l.getField("cos") > r.getField("cos"), -1)
        .when(!isN(l) && !isN(r) && l.getField("cos") < r.getField("cos"), 1)
        .when(l.getField("cent_id") < r.getField("cent_id"), -1)
        .when(l.getField("cent_id") > r.getField("cent_id"), 1)
        .otherwise(0)
    slice(array_sort(scores, byCosDesc), 1, nProbe)
  }

  def ivfCells(e: DataFrame, idCol: String, vecCol: String, normCol: String,
      cent: DataFrame, nProbe: Int): DataFrame =
    e.crossJoin(broadcast(packCentroids(cent)))
      .select(col(idCol), topCellsExpr(vecCol, normCol, nProbe).as("__top"))
      .select(col(idCol), posexplode(col("__top")))
      .select(col(idCol), col("col.cent_id").as("cell"),
        (col("pos") + 1).cast("int").as("probe_rank"))

  /** Per-dimension min/max over the embedding corpus — the int8
    * scalar-quantizer "training" pass. One explode + keyed agg to a
    * ≤dim-row frame (map-side partial, never a corpus shuffle). */
  def dimStats(emb: DataFrame, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol))).toDF("dim", "x")
      .groupBy(col("dim"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))

  /** Stats packed to ONE row of dim-ordered arrays — the broadcast
    * side of the quantizer. The global fold is over ≤dim rows (a
    * 64-dim corpus folds 64 rows), bounded by design like IdMinter's
    * new-entity remainder. */
  def packedStats(stats: DataFrame): DataFrame =
    stats
      .agg(sort_array(collect_list(struct(col("dim"), col("mn"),
        col("mx")))).as("__s"))
      .select(transform(col("__s"), e => e.getField("mn")).as("__mins"),
        transform(col("__s"), e => e.getField("mx")).as("__maxs"))

  /** Int8 scalar quantization (the memory-side of large-scale ANN: a
    * 100 TB float corpus stores/scans 4× smaller as uint8 codes with
    * a broadcast codebook): `code_d = clamp(floor((x_d − min_d) /
    * (max_d − min_d) · 255 + 0.5), 0, 255)`; constant dimensions code
    * to 0. Adds `codes ARRAY<INT>` — a pure projection behind one
    * broadcast of the packed stats; the corpus never shuffles. */
  /** ANN scan over int8 codes: integer squared-L2 between code
    * vectors — the memory-bandwidth-side payoff of [[scalarQuantize]]
    * (a 100 TB scan touches 4× fewer bytes; exact float re-rank of
    * the shortlist follows as in the IVF path). Exact integer
    * arithmetic, so the oracle is bit-trivially identical. Queries
    * broadcast; top-k by (dist ASC, id ASC — deterministic ties).
    *
    * The per-query election is the bounded `TopK` aggregate with
    * score = −dist (distances are exact longs, so the flip is exact):
    * ONE ObjectHashAggregate whose map-side partials keep ≤ k pairs
    * per (query × partition), so the exchange carries k·partitions·|Q|
    * pairs. The window formulation this replaced shuffled EVERY scored
    * (candidate, query) row to one task per query and sorted the
    * corpus there — parallelism = |Q|, per-task data = corpus: the
    * exact shape that dies at 100 TB. Ids must be non-null integrals
    * (they ride the aggregate as longs and cast back on output). */
  def quantizedTopK(codes: DataFrame, idCol: String, codesCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val idType = codes.schema(idCol).dataType
    val c = codes.select(col(idCol), col(codesCol).as("__c"))
    val q = c.filter(queryPred)
      .select(col(idCol).as("q_id"), col("__c").as("__qc"))
    val scored = c.select(col(idCol).as("c_id"), col("__c").as("__cc"))
      .join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("dist", aggregate(
        zip_with(col("__qc"), col("__cc"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
    scored.groupBy(col("q_id"))
      .agg(graft.operators.TopK.topK(k)(-col("dist"),
        col("c_id").cast("long")).as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").cast(idType).as("neighbor"),
        (-col("col.score")).as("dist"))
  }

  /** Quantize against a PRECOMPUTED packed-stats frame (one row of
    * `__mins`/`__maxs` arrays — [[packedStats]] output). Composed
    * pipelines (quantize + scan in one plan, q140/q144) must land the
    * stats — or the whole codes frame — at a Materialize boundary and
    * pass them here, so the corpus is scanned ONCE for training; the
    * single-arg convenience below recomputes stats from `emb` inside
    * the plan, which is only right when the plan has one consumer. */
  def scalarQuantize(emb: DataFrame, idCol: String, vecCol: String,
      packed: DataFrame): DataFrame = {
    emb.crossJoin(broadcast(packed))
      .withColumn("codes", transform(col(vecCol), (x, i) => {
        val mn = element_at(col("__mins"), i + 1)
        val mx = element_at(col("__maxs"), i + 1)
        when(mx === mn, lit(0)).otherwise(
          least(lit(255L), greatest(lit(0L),
            floor((x.cast("double") - mn) / (mx - mn) * 255 + 0.5)
              .cast("long"))).cast("int"))
      }))
      .drop("__mins", "__maxs")
  }

  def scalarQuantize(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    scalarQuantize(emb, idCol, vecCol, packedStats(dimStats(emb, vecCol)))

  /** Deterministic k-means centroid trainer — the missing half of the
    * SemDeDup recipe (Abbas et al. 2023 cluster with k-means; the
    * operator below took caller-supplied centroids until r17). Fully
    * deterministic and oracle-reproducible, no RNG:
    *
    *  - SEEDING is a hash-seeded sample: the k vectors minimizing a
    *    SEED-PERMUTED id hash (ties to smaller id) — content-
    *    independent like a random sample, reproducible in any engine,
    *    and not biased by id order the way first-k seeding is. The
    *    seed enters as an affine permutation `(q·a + b) mod P` with a
    *    seed-derived ODD multiplier (the MinHash permutation family;
    *    P = [[SeedPrime]] < 2^28 keeps every product in signed-64) —
    *    NOT as a concatenated affix: a polynomial hash is affine in
    *    any fixed-position affix, so `charHash(id || seed)` shifts
    *    every same-length id's hash by the SAME constant and the
    *    elected sample never changes with the seed. `q` is the id
    *    hash SPREAD by a fixed multiply-mod (`(h(id) mod P)·
    *    2654435761 mod P`) first — short numeric ids hash to tiny
    *    CONSECUTIVE values (chl("0")=48 …), and an affine map only
    *    permutes via wraparound, so unspread inputs would keep their
    *    id order under every seed. Hash ties (P ~2.7e8, so a
    *    billion-id corpus has ~2-element tie classes) break to the
    *    smaller id — deterministic, bias negligible.
    *    The election rides the bounded [[TopK]] aggregate (map-side
    *    partials keep ≤ k pairs per partition; the final fold crosses
    *    ≤ k·partitions pairs — bounded by design), then joins back on
    *    the unique id for the k seed vectors. `cent_id` = seed rank in
    *    (hash ASC, id ASC) order.
    *  - A FIXED number of Lloyd iterations (no driver-side convergence
    *    loop — the iteration count bounds the plan): assign every vector to its
    *    nearest centroid (the zero-shuffle [[ivfCells]] nProbe = 1
    *    election), then recompute each centroid as the element-wise
    *    mean of its members — `AuthorVectors.ArraySumAgg` map-side
    *    partials shuffle ONE partial vector per (cell × partition),
    *    never a list — MICRO-ROUNDED (floor(x·1e6 + 0.5)/1e6) so both
    *    engines start every iteration from bit-identical centroids
    *    (the q79 cross-engine mean protocol). An empty cell keeps its
    *    previous centroid (deterministic; no re-seeding).
    *
    * Per iteration: one corpus projection (assignment) + one keyed
    * aggregate bounded at K cells — nothing quadratic, nothing
    * windowed. SemDeDup is insensitive to clustering quality (the
    * clusters only bound the pair term), so small `iters` (1–3) is the
    * production setting. Ids must be non-null integrals (they ride the
    * TopK aggregate as longs — the [[quantizedTopK]] contract).
    *
    * @return (cent_id LONG, cv ARRAY<DOUBLE> micro-rounded, cn norm) —
    *         K rows, the broadcastable `cent` input of [[ivfCells]] /
    *         [[semanticDupFlags]]. */
  /** Largest prime below 2^28 — the seed-permutation modulus for
    * [[trainCentroids]] (residue · odd-multiplier stays in signed-64). */
  val SeedPrime = 268435399L

  /** Fixed spreading multiplier (Knuth's 2654435761): decorrelates
    * the id-hash residues before the seeded affine permutation. */
  val SeedSpread = 2654435761L

  /** The 56-bit charHash polynomial, driver-side (for seed-derived
    * constants — same fold as `TextFunctions.charHash` / plans.CharHash). */
  def charHashLocal(s: String): Long =
    s.codePoints().toArray.foldLeft(0L)((h, c) =>
      (h * 31 + c) % graft.functions.TextFunctions.CharHashMod)

  def trainCentroids(e: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, seed: String,
      boundary: DataFrame => DataFrame = identity): DataFrame = {
    require(k > 0, s"k must be > 0 (got $k)")
    require(iters >= 0, s"iters >= 0 (got $iters)")
    val arrSum = udaf(graft.aer.AuthorVectors.ArraySumAgg)
    val base = e.select(col(idCol).cast("long").as("__id"),
        toDoubleVec(col(vecCol)).as("__v"))
      .withColumn("__n", norm(col("__v")))
    val ha = 2L * (charHashLocal(seed) % SeedPrime) + 1L
    val hb = charHashLocal(seed + ":b") % SeedPrime
    val spread = graft.functions.TextFunctions.charHash(
      col("__id").cast("string")) % SeedPrime * SeedSpread % SeedPrime
    val h = (spread * ha + hb) % SeedPrime
    val seeds = base
      .agg(graft.operators.TopK.topK(k)(-h, col("__id")).as("__tk"))
      .select(posexplode(col("__tk")))
      .select(col("pos").cast("long").as("cent_id"), col("col.id").as("__id"))
    // `boundary` (r17, guide §3.3): each iteration's centroid frame is
    // K tiny rows, but consumed TWICE by the next iteration (packed
    // election + empty-cell fallback join) and again by every
    // downstream consumer — without a cut the i-th iteration's plan
    // embeds 2^i copies of the trainer subtree and the optimizer
    // replays the corpus scan per copy. Cutting at K rows per
    // iteration makes the whole trainer ~1 corpus pass per iteration.
    // Pass `df => Materialize.temp(df)._1` in composed pipelines;
    // identity keeps the plan pure (spec determinism arms).
    var cent = boundary(seeds.join(base, Seq("__id"))
      .select(col("cent_id"), col("__v").as("cv"), col("__n").as("cn")))
    for (_ <- 1 to iters) {
      // inline nProbe=1 assignment: same packed broadcast + in-array
      // election expression as ivfCells, but carrying `__v` through
      // the projection — the old form joined ivfCells output back to
      // `base` on __id, a second corpus scan + a corpus-wide join per
      // iteration for rows the projection already had in hand
      val asgv = base.crossJoin(broadcast(packCentroids(cent)))
        .select(element_at(topCellsExpr("__v", "__n", 1), 1)
          .getField("cent_id").as("cell"), col("__v"))
      val means = asgv
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("__cnt"), arrSum(col("__v")).as("__sum"))
        .select(col("cell"), transform(col("__sum"),
          v => floor(v / col("__cnt") * 1000000 + 0.5) / 1000000.0)
          .as("__mv"))
      cent = boundary(cent.select(col("cent_id"), col("cv").as("__old"))
        .join(means, col("cent_id") === col("cell"), "left")
        .select(col("cent_id"),
          coalesce(col("__mv"), col("__old")).as("cv"))
        .withColumn("cn", norm(col("cv"))))
    }
    cent
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — the published semantic-dedup recipe for web-
    * scale pretraining corpora): embeddings cluster to their nearest
    * centroid (the [[ivfCells]] nProbe = 1 assignment), and WITHIN a
    * cluster a vector is a semantic duplicate when any LOWER-ID
    * cluster-mate sits at-or-above the cosine threshold (exists-
    * semantics, no transitive closure — deterministic and oracle-
    * exact; the kept vector of every dup pair is the smaller id).
    * `tauMicro` is the threshold as an exact ×1e6 integer against the
    * same floor-rounded cosine the other vector operators emit.
    *
    * Scale shape — the whole point of SemDeDup's clustering: the
    * quadratic pair term is CELL-BOUNDED (one equijoin on the cell id,
    * never corpus all-pairs; at the standard K ≈ √N sizing a cell
    * holds ≈ √N vectors, so total pair work ≈ N^1.5 / K — tractable
    * where N² is not), the assignment is a broadcast-centroid
    * projection + bounded aggregate, and the dup flags join back on
    * the unique vector id. A skew-hot cell is a JOIN partition — AQE
    * splits it. Returns (idCol, cell, is_semantic_dup).
    *
    * GIANT-CELL GUARD (`maxCellSize`): one mega-cell — a boilerplate-
    * dominated corpus where k-means parks most vectors on one centroid
    * — re-introduces the all-pairs term the clustering exists to kill
    * (a cell of N/2 vectors is N²/4 pairs, and AQE's skew split only
    * re-partitions the join, not the quadratic row count). When a
    * cell exceeds `maxCellSize` rows, its rows are SUB-BUCKETED by
    * sign-bit hyperplane LSH over the RESIDUAL (v − centroid) —
    * residual, because a tight cluster's raw vectors all sit on the
    * same side of most hyperplanes while their residuals are
    * direction-diverse — and the pair join keys on (cell, sub), cutting
    * the mega-cell's pair term ~4^subPlanes-fold. This is a documented
    * RECALL trade (the LSH semantics the near-dup operators already
    * carry): a dup pair split across sub-buckets is missed — exact
    * duplicates never split (identical residuals ⇒ identical buckets),
    * and the closer the pair, the likelier they co-bucket. Cells at or
    * under the cap — and every cell when the default no-op cap is left
    * in place — are compared exhaustively, exactly as before; the
    * guard's cell-size census is one keyed count bounded at K rows,
    * broadcast back. `dim` is the embedding dimension (plane width);
    * only read when the guard is active. */
  def semanticDupFlags(e: DataFrame, idCol: String, vecCol: String,
      normCol: String, cent: DataFrame, tauMicro: Long,
      maxCellSize: Long = Long.MaxValue, subPlanes: Int = 4,
      dim: Int = 64,
      boundary: DataFrame => DataFrame = identity): DataFrame = {
    // `boundary` (r17, guide §3.3/§2.4): the assignment feeds the size
    // census AND the vector join, and the bucketed frame feeds BOTH
    // pair sides plus the final flag join — unbounded, each consumer
    // replays the assignment projection (and, through `cent`, the
    // whole trainer when composed with [[trainCentroids]]). Cut at the
    // narrow (id, cell) frame and at the bucketed frame so the
    // assignment runs once and the pair sides re-read a landing
    // instead of recomputing — the SemDeDup-at-scale posture (cluster
    // assignments are a stored artifact). identity keeps it pure.
    val cells = boundary(
      ivfCells(e, idCol, vecCol, normCol, cent, nProbe = 1)
        .select(col(idCol), col("cell")))
    val withCell0 = e.select(col(idCol), col(vecCol), col(normCol))
      .join(cells, Seq(idCol))
    val withCell = boundary(
      if (maxCellSize == Long.MaxValue)
        withCell0.withColumn("__sub", lit(0))
      else {
        val over = cells.groupBy(col("cell"))
          .agg(count(lit(1)).as("__sz"))
          .filter(col("__sz") > maxCellSize)
          .select(col("cell"), lit(true).as("__over"))
        val ps = planes(subPlanes, dim)
        withCell0
          .join(broadcast(over), Seq("cell"), "left")
          .join(broadcast(cent.select(col("cent_id").cast("long")
            .as("cell"), col("cv").as("__ccv"))), Seq("cell"))
          .withColumn("__sub", when(col("__over"),
              hyperplaneBucket(zip_with(col(vecCol), col("__ccv"),
                (a, b) => a - b), ps))
            .otherwise(lit(0)))
          .drop("__over", "__ccv")
      })
    val a = withCell.select(col("cell"), col("__sub"),
      col(idCol).as("__a_id"), col(vecCol).as("__av"),
      col(normCol).as("__an"))
    val b = withCell.select(col("cell"), col("__sub"),
      col(idCol).as("__b_id"), col(vecCol).as("__bv"),
      col(normCol).as("__bn"))
    val dups = a.join(b, Seq("cell", "__sub"))
      .filter(col("__b_id") < col("__a_id"))
      .withColumn("__cos_e6",
        floor(dot(col("__av"), col("__bv")) /
          (col("__an") * col("__bn")) * 1000000 + 0.5).cast("long"))
      .filter(col("__cos_e6") >= tauMicro)
      .select(col("__a_id").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    withCell.select(col(idCol), col("cell"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("__dup"), lit(false)).as("is_semantic_dup"))
  }
}
