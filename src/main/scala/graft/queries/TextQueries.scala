package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Text-analysis + deduplication operators over the `documents` table —
  * the training-data-pipeline surface (language-ID, quality scoring,
  * token counting, fingerprinting, exact/Jaccard/MinHash/SimHash dedup,
  * multimodal binary plumbing).
  *
  * Determinism protocol: all word/shingle ids come from
  * `TextFunctions.charHash` — per-row 56-bit polynomial arithmetic the
  * DuckDB oracle reproduces bit-for-bit with a `list_reduce` fold. No
  * registered plan sorts a vocabulary dictionary (the round-1
  * `row_number().over(Window.orderBy(...))` single-task global sort is
  * gone; ExplainAudit asserts no single-partition exchange remains).
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Token counting: whitespace + BPE-ish regex tokens. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).as("n_ws"),
        TextFunctions.bpeishCount(col("text")).as("n_bpe"))
      .withColumn("chars_per_tok",
        RelationalQueries.r6(col("n_bpe").cast("double") / col("n_ws").cast("double")))
  }

  /** Quality scoring: length/stopword/token-shape features folded into a
    * bounded score (pure rational arithmetic for oracle parity). */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val base = d.select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).as("n_tokens"),
      TextFunctions.tokenLenSum(col("text")).as("sum_len"),
      TextFunctions.stopwordCount(col("text")).as("n_stop"))
    base.select(col("doc_id"), col("n_tokens"),
      RelationalQueries.r6(col("sum_len").cast("double") / col("n_tokens").cast("double")).as("avg_tok_len"),
      RelationalQueries.r6(col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"),
      RelationalQueries.r6(
        lit(0.5) * (col("n_stop").cast("double") / col("n_tokens").cast("double")) +
          lit(0.3) * least(lit(1.0), col("n_tokens").cast("double") / 50.0) +
          lit(0.2) * least(lit(1.0),
            (col("sum_len").cast("double") / col("n_tokens").cast("double")) / 8.0))
        .as("quality_score"))
  }

  /** Language-ID: top-10-words-per-language profile (built from the
    * labeled corpus), prediction = argmax profile overlap. The profile
    * is tiny and broadcast; per-doc work is one hash join. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // toks feeds BOTH the profile aggregation and the per-doc distinct.
    // Deliberately NOT cached: registered queries must leave zero
    // persistent RDDs behind (long-lived sessions accumulate pinned
    // executor storage otherwise — the round-3 defect), and the diamond
    // costs only a second scan + narrow tokenize, while the cache pinned
    // the widest frame in the query.
    val toks = d.select(col("doc_id"), col("lang"),
      explode(TextFunctions.tokens(col("text"))).as("w"))
    val prof = toks.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("c").desc, col("w").asc)))
      .filter(col("r") <= 10).select(col("lang").as("plang"), col("w"))
    val dw = toks.select(col("doc_id"), col("w")).distinct()
    val scores = dw.join(broadcast(prof), "w")
      .groupBy(col("doc_id"), col("plang")).agg(count(lit(1)).as("score"))
    val langs = d.select(col("lang").as("plang")).distinct()
    val grid = d.select(col("doc_id"), col("lang")).crossJoin(broadcast(langs))
    val pred = grid.join(scores, Seq("doc_id", "plang"), "left")
      .withColumn("score", coalesce(col("score"), lit(0L)))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("plang").asc)))
      .filter(col("r") === 1)
    pred.select(col("doc_id"), col("lang").as("actual"),
      col("plang").as("predicted"), (col("lang") === col("plang")).as("correct"))
  }

  /** Document fingerprinting: rolling polynomial hash over word ids,
    * window w=4 (winnowing-style min fingerprint + distinct count).
    * Word ids are per-row charHash values, so the whole query is ONE
    * narrow projection — no explode, no dictionary join, no shuffle at
    * all (round 1 routed the vocabulary through a global-sort window). */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val ids = d.select(col("doc_id"),
      transform(TextFunctions.tokenHashes(col("text")),
        h => h % Dedup.Prime).as("ids"))
    val hs = when(size(col("ids")) >= 4,
      transform(sequence(lit(1), size(col("ids")) - 3), tt =>
        (element_at(col("ids"), tt) +
          element_at(col("ids"), tt + 1) * 31 +
          element_at(col("ids"), tt + 2) * 961 +
          element_at(col("ids"), tt + 3) * 29791) % Dedup.Prime))
      .otherwise(array().cast("array<long>"))
    ids.withColumn("hs", hs)
      .select(col("doc_id"),
        array_min(col("hs")).as("fingerprint"),
        size(col("hs")).as("n_hashes"),
        size(array_distinct(col("hs"))).as("n_distinct"))
  }

  /** Exact dedup via content hash groups. */
  private def q35(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")

  /** N-gram Jaccard near-dup pairs with rare-shingle prefix blocking
    * (df ∈ [2,20], co-occurrence ≥ 2) — no all-pairs join. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    // Blocking + verification both run over 8-byte charHash shingle ids,
    // not ~30-byte shingle strings (jaccard over hashed ids equals
    // jaccard over the strings: 56-bit ids, collisions negligible; any
    // false candidate a collision could add is still exact-verified).
    // The id frame is raw post-explode rows — no distinct pass; both
    // downstream aggregations (docs-per-shingle, set-per-doc) collapse
    // duplicates in their map-side partials. NOT cached even though it
    // feeds candidate generation AND verification: pinning the widest
    // (exploded) frame never unpersists in a registered query, and the
    // recompute is one extra scan + narrow explode per consumer.
    val sh = Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", 3)
    val sid = Dedup.withShingleIds(sh)
      .select(col("doc_id"), col("sid").as("shingle"))
    val cand = Dedup.rareShingleCandidates(sid, "doc_id", 20, minCommon = 2)
    Dedup.jaccardForPairs(cand, sid, "doc_id").filter(col("jaccard") >= 0.5)
  }

  /** MinHash (16 perms) + LSH (4 bands × 4 rows) candidate pairs with
    * exact-Jaccard verification. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    // Hashed (charHash) sids — no dictionary, no global sort. ONE
    // aggregation pass over the exploded shingle frame produces both
    // the 16-perm signature (→ LSH bands) and the per-doc sorted id set
    // (→ exact-Jaccard verify). The per-doc frame is NOT cached: a
    // registered query may not leave pinned storage behind (the cache
    // was never unpersisted — the round-3 long-lived-session defect);
    // the two consumers each recompute the aggregation, which is the
    // price of a second scan + shuffle, not of permanent executor
    // storage. A production pipeline would persist this frame to a
    // table between the candidate and verify jobs instead.
    val sh = Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", 3)
    val ids = Dedup.withShingleIds(sh)
    val combined = Dedup.signatureWithSets(
      ids.select(col("doc_id"), col("sid")), "doc_id", 16)
    val cand = Dedup.lshCandidates(combined, "doc_id", 4, 4)
    Dedup.jaccardForSets(cand, combined, "doc_id")
  }

  /** SimHash (32-bit, word-frequency features) near-dup pairs via
    * byte-block LSH, Hamming ≤ 3. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    // Word ids are inline charHash values (mod P to keep wid·SimhashMul
    // in signed-64 range) — the round-1 dictionary join + global sort
    // is gone; the plan is explode → one grouped count → one bit-sum agg.
    val d = t(s, dir, "documents")
    val wtok = d.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .withColumn("wid", TextFunctions.charHash(col("w")) % Dedup.Prime)
    val sig = Dedup.simHash(wtok, "doc_id")
    Dedup.simHashPairs(sig, "doc_id", 3)
  }

  /** Multimodal plumbing: opaque binary column + typed metadata —
    * byte length, content digest, the REAL decoder-plan arithmetic
    * (frameSamplePlan / resizeSpec, r14), and the REAL container
    * header parse (r15): the query synthesizes spec-conformant PNG
    * (signature + IHDR) and JPEG (SOI + APP0 + COM + SOF0 marker
    * walk) byte streams whose embedded dimensions derive from doc_id,
    * parses them back with the native `graft.plans.ImageDims`
    * expression, and feeds the PARSED dims into resizeSpec — the
    * oracle recomputes every leg arithmetically (junk rows must parse
    * to NULL). Only pixel decode remains a stub boundary. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val d = t(s, dir, "documents")
    val bin = encode(col("text"), "UTF-8")
    val durMs = pmod(col("doc_id"), lit(10000)) * 400
    val plan = Multimodal.frameSamplePlan(durMs, fps = 30.0,
      everyNth = 5, maxFrames = 16)
    val w = (lit(100) + pmod(col("doc_id"), lit(1200))).cast("int")
    val h = (lit(90) + pmod(col("doc_id"), lit(800))).cast("int")
    val rs = Multimodal.resizeSpec(w, h, 224)
    // real container bytes: PNG for doc_id%3=0, JPEG for %3=1 (with a
    // COM segment so the parser must WALK markers, not peek an
    // offset), raw text bytes (not an image) otherwise
    def hx4(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    val pngHex = concat(lit("89504E470D0A1A0A0000000D49484452"),
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"), lit("0806000000"))
    val jpegHex = concat(
      lit("FFD8FFE000104A46494600010100000100010000FFFE0005414243" +
        "FFC0001108"), hx4(h), hx4(w), lit("03011100021101031101"))
    val media = when(pmod(col("doc_id"), lit(3)) === 0, unhex(pngHex))
      .when(pmod(col("doc_id"), lit(3)) === 1, unhex(jpegHex))
      .otherwise(bin)
    val dims = Multimodal.imageDims(media)
    val rs2 = Multimodal.resizeSpec(dims.getField("w"),
      dims.getField("h"), 224)
    d.select(col("doc_id"),
      length(bin).as("byte_len"),
      sha2(bin, 256).as("sha"),
      expr("CAST(length(text) div 100 AS INT)").as("n_frames"),
      size(plan).as("n_sampled_frames"),
      coalesce(try_element_at(plan, lit(-1)), lit(-1L))
        .as("last_frame_idx"),
      rs.getField("w").as("rs_w"),
      rs.getField("h").as("rs_h"),
      dims.getField("format").as("img_format"),
      dims.getField("w").as("img_w"),
      dims.getField("h").as("img_h"),
      rs2.getField("w").as("rs2_w"),
      rs2.getField("h").as("rs2_h"))
  }

  /** Transitive dedup clusters: candidate pairs (paths, one ~55-hop
    * chain through the multiples of 100, cross bridges, isolated
    * pairs) → connected components with min-id canonicals. The oracle
    * recomputes reachability with a recursive CTE. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") <= 5000)
    val k = col("o_orderkey")
    def e(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)(src: DataFrame) =
      src.select(a.cast("long").as("da"), b.cast("long").as("db"))
    val pairs = Seq(
      e(k, k + 1)(o.filter(pmod(k, lit(10)) < 3)),
      e(k, k + 100)(o.filter(pmod(k, lit(100)) === 0)),
      e(k, k + 2)(o.filter(pmod(k, lit(7)) === 3)),
      e(k + 20000, k + 30000)(o.filter(pmod(k, lit(11)) === 5)))
      .reduce(_ unionByName _)
    val cc = Dedup.connectedComponents(pairs)
    val sizes = cc.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"),
        (col("id") === col("cluster_id")).as("is_canonical"),
        col("cluster_size"))
  }

  /** Deterministic train/val/test split (80/10/10) + per-language
    * stratified cap — both keyed on the charHash twin the oracle
    * reproduces bit-for-bit. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    val split = Sampling.hashSplit(d, "doc_id", "s1",
      trainPct = 80, valPct = 10)
    val capped = Sampling.stratifiedCap(split, Seq("lang"), "doc_id",
        "s1", cap = 5)
      .select(col("doc_id"), lit(true).as("kept"))
    split.join(capped, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("bucket"), col("split"),
        coalesce(col("kept"), lit(false)).as("kept"))
  }

  /** Benchmark decontamination: verbatim eval copies, partial
    * (first-6-words) overlaps, and novel benchmark rows — a doc is
    * contaminated at >= 3 distinct shared 3-gram shingles with any
    * single benchmark doc. */
  /** The q115/q116 benchmark fixture: verbatim eval copies, partial
    * first-6-words overlaps, novel rows. */
  private def benchDocs(d: DataFrame): DataFrame = {
    val k = col("doc_id")
    d.filter(pmod(k, lit(10)) === 0)
      .select((k + 100000).as("doc_id"), col("text"))
      .unionByName(d.filter(pmod(k, lit(7)) === 0)
        .select((k + 200000).as("doc_id"),
          array_join(slice(TextFunctions.tokens(col("text")), 1, 6), " ")
            .as("text")))
      .unionByName(d.filter(pmod(k, lit(13)) === 0)
        .select((k + 300000).as("doc_id"),
          concat(lit("novel benchmark question "), k.cast("string"))
            .as("text")))
  }

  private def q115(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val bench = benchDocs(d)
    val pairs = Dedup.contaminationPairs(
      Dedup.shingles(d, "doc_id", "text", 3),
      Dedup.shingles(bench, "doc_id", "text", 3),
      "doc_id", minCommon = 3)
    // landed, so the join below is planned from the few flag rows'
    // file size and broadcasts instead of shuffling every document
    val flags = graft.core.Materialize.temp(pairs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench"), max(col("n_common")).as("max_common")))._1
    d.select(col("doc_id"), col("lang"))
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        col("n_bench").isNotNull.as("contaminated"),
        coalesce(col("n_bench"), lit(0L)).as("n_bench"),
        coalesce(col("max_common"), lit(0L)).as("max_common"))
  }

  /** The COMPOSED curation pipeline, end-to-end in one oracle-gated
    * query: MinHash-LSH candidates → exact-Jaccard verify (>= 0.5) →
    * transitive components with min-id canonicals → benchmark
    * decontamination → deterministic split. final_kept = canonical AND
    * clean — the rowset a training run would actually read. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // r17: the exploded shingle frame feeds BOTH the signature build
    // and the decontamination screen, and the signature+set frame
    // feeds BOTH candidate generation and verification — land each
    // once (the Materialize generation/verification boundary this
    // pipeline's operators already document; guide §3.3)
    val sh = graft.core.Materialize.temp(
      Dedup.shingles(d, "doc_id", "text", 3))._1
    val sid = Dedup.withShingleIds(sh).select(col("doc_id"), col("sid"))
    val combined = graft.core.Materialize.temp(
      Dedup.signatureWithSets(sid, "doc_id", 16))._1
    val cand = Dedup.lshCandidates(combined, "doc_id", 4, 4)
    val verified = Dedup.jaccardForSets(cand, combined, "doc_id")
      .filter(col("jaccard") >= 0.5).select(col("da"), col("db"))
    // verified >= 0.5-Jaccard chains are shallow — 4 pointer-jump
    // rounds (diameter 16) is generous; each round is a fixed
    // shuffle+land cost, so don't pay the stress-test default here
    val cc = Dedup.connectedComponents(verified, maxIter = 4)
      .select(col("id").as("doc_id"), col("cluster_id").as("__cl"))
    val cont = Dedup.contaminationPairs(sh,
        Dedup.shingles(benchDocs(d), "doc_id", "text", 3),
        "doc_id", minCommon = 3)
      .select(col("doc_id")).distinct().withColumn("__dirty", lit(true))
    val split = graft.operators.Sampling.hashSplit(
      d.select(col("doc_id"), col("lang")), "doc_id", "s1", 80, 10)
    split.join(cc, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("split"),
        coalesce(col("__cl"), col("doc_id")).as("cluster_id"),
        (coalesce(col("__cl"), col("doc_id")) === col("doc_id"))
          .as("is_canonical"),
        coalesce(col("__dirty"), lit(false)).as("contaminated"),
        ((coalesce(col("__cl"), col("doc_id")) === col("doc_id")) &&
          !coalesce(col("__dirty"), lit(false))).as("final_kept"))
  }

  /** q122: the Gopher/C4-family repetition screens — per-document
    * top-word/top-bigram/duplicate-trigram fractions and the keep
    * verdict, all as native text kernels in one projection (zero
    * shuffle). */
  private def q122(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextQuality.repetitionScreens(
      t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
      .drop("text")

  /** q123: mixture sampling to per-source token budgets — documents
    * admitted in salted-charHash order until each source's budget is
    * spent (greedy prefix, last document may overshoot). Budgets
    * derive from the source index so both engines compute them. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val docs = d.select(col("doc_id"), col("source"),
      size(TextFunctions.tokens(col("text"))).as("n_tokens"))
    val budgets = d.select(col("source")).distinct()
      .withColumn("token_budget",
        lit(150) + pmod(regexp_extract(col("source"), "([0-9]+)", 1)
          .cast("int"), lit(4)) * 120)
    graft.operators.Sampling.mixtureSample(docs, budgets, "doc_id",
      "n_tokens", "source", "m1")
  }

  /** q124: cross-document paragraph dedup — 10-token chunks hashed
    * with charHash, first corpus-wide occurrence owns the hash,
    * per-doc duplicate-paragraph stats. The synthetic corpus repeats
    * vocabulary heavily, so real cross-document chunk collisions
    * exist and the dup fractions are non-trivial. */
  private def q124(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextQuality
    val occ = TextQuality.paragraphDedup(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text")
    TextQuality.paragraphDupStats(occ, "doc_id")
  }

  /** q125: PII scrub over PII-injected documents (the fixture plants
    * emails/IPs/phones by doc-id arithmetic so both engines know the
    * ground truth) — typed placeholder redaction + per-kind counts. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextQuality
    val d = t(s, dir, "documents")
    val k = col("doc_id"); val ks = k.cast("string")
    val injected = d.select(col("doc_id"),
      concat(col("text"),
        when(pmod(k, lit(3)) === 0,
          concat(lit(" contact bob"), ks, lit("@mail"),
            pmod(k, lit(10)).cast("string"), lit(".example.com now")))
          .otherwise(lit("")),
        when(pmod(k, lit(4)) === 0,
          concat(lit(" from 10."), pmod(k, lit(256)).cast("string"),
            lit(".0."), pmod(k, lit(100)).cast("string")))
          .otherwise(lit("")),
        when(pmod(k, lit(5)) === 0,
          concat(lit(" call +4915"), pmod(k, lit(100000)).cast("string")))
          .otherwise(lit(""))).as("text"))
    TextQuality.piiScrub(injected, "text").drop("text")
  }

  /** q126: the composed Dolma-style curation DAG over PII-injected
    * documents — scrub FIRST (so no downstream stage ever sees raw
    * PII), repetition screens + cross-document paragraph dedup over
    * the SCRUBBED text, quality gate (keep AND dup_para_frac ≤ 0.5),
    * then token-budgeted mixture sampling over the survivors and the
    * deterministic train/val/test split. Output = the admitted
    * rowset a training run reads. Every stage is a projection, a
    * keyed window, or a broadcast join — one DAG, no driver loops. */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Sampling, TextQuality}
    val d = t(s, dir, "documents")
    val k = col("doc_id"); val ks = k.cast("string")
    val injected = d.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(pmod(k, lit(3)) === 0,
          concat(lit(" contact bob"), ks, lit("@mail"),
            pmod(k, lit(10)).cast("string"), lit(".example.com now")))
          .otherwise(lit("")),
        when(pmod(k, lit(4)) === 0,
          concat(lit(" from 10."), pmod(k, lit(256)).cast("string"),
            lit(".0."), pmod(k, lit(100)).cast("string")))
          .otherwise(lit(""))).as("text"))
    // the scrubbed frame feeds BOTH the repetition screens and the
    // paragraph dedup — landed at a Materialize boundary so the
    // inject+3-regex scrub chain runs once, not per consumer (the
    // q97/q116 multi-consumer convention)
    val scrubbed = graft.core.Materialize.temp(
      TextQuality.piiScrub(injected, "text")
        .select(col("doc_id"), col("source"), col("scrubbed").as("text")),
      "graft-curation-scrub")._1
    val rep = TextQuality.repetitionScreens(scrubbed, "text")
    val para = TextQuality.paragraphDupStats(
      TextQuality.paragraphDedup(scrubbed, "doc_id", "text"), "doc_id")
    val gated = rep.join(para, Seq("doc_id"))
      .filter(col("keep") && col("dup_para_frac") <= 0.5)
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val budgets = d.select(col("source")).distinct()
      .withColumn("token_budget",
        lit(150) + pmod(regexp_extract(col("source"), "([0-9]+)", 1)
          .cast("int"), lit(4)) * 120)
    val admitted = Sampling.mixtureSample(gated, budgets, "doc_id",
      "n_tokens", "source", "m2")
    Sampling.hashSplit(admitted, "doc_id", "c1", 80, 10)
      .select("doc_id", "source", "n_tokens", "cum_tokens",
        "token_budget", "bucket", "split")
  }

  /** q134: URL-level dedup + CCNet normalized-chunk dedup (the two
    * front stages of a CCNet/RefinedWeb-style web-curation pipeline,
    * beyond-reference tier) — URLs synthesized by doc-id arithmetic
    * with scheme/www/case/tracking-param/param-order/fragment/
    * trailing-slash variants that canonicalize onto colliding keys;
    * per-canonical winner = highest n_chars then lowest doc_id; the
    * winners' text (with case/digit-variant suffixes planted) then
    * runs the NORMALIZED chunk dedup, so near-identical chunks
    * differing only in case/digits/punctuation collide. Output: one
    * row per document with its canonical URL, the URL-duplicate
    * verdict, and (winners only) the normalized dup-chunk stats. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextQuality
    val d = t(s, dir, "documents")
    val k = col("doc_id")
    val url = concat(
      when(pmod(k, lit(2)) === 0, lit("https://WWW."))
        .otherwise(lit("http://")),
      lit("Site"), pmod(k, lit(40)).cast("string"),
      lit(".Example.com/Path"), pmod(k, lit(25)).cast("string"),
      when(pmod(k, lit(3)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(k, lit(5)) === 0, lit("?utm_source=x&b=2&a=1"))
        .when(pmod(k, lit(5)) === 1, lit("?a=1&b=2"))
        .when(pmod(k, lit(5)) === 2, lit("?b=2&a=1&fbclid=zz"))
        .otherwise(lit("")),
      when(pmod(k, lit(4)) === 0, lit("#frag")).otherwise(lit("")))
    val withUrl = d.select(col("doc_id"), col("n_chars"),
      concat(col("text"),
        when(pmod(k, lit(2)) === 0, lit(" Res 42 OK!"))
          .otherwise(lit(" res 77 ok"))).as("text"),
      url.as("url"))
    // the URL winner election feeds BOTH the output verdicts and the
    // winners-only chunk dedup — landed once (q126's multi-consumer
    // convention)
    val marked = graft.core.Materialize.temp(
      TextQuality.urlDedup(withUrl, "doc_id", "url", "n_chars"),
      "graft-url-dedup")._1
    val stats = TextQuality.paragraphDupStats(
      TextQuality.ccnetChunkDedup(
        marked.filter(!col("is_url_duplicate"))
          .select(col("doc_id"), col("text")),
        "doc_id", "text"), "doc_id")
    marked.select(col("doc_id"), col("canonical_url"),
        col("is_url_duplicate"))
      .join(stats, Seq("doc_id"), "left")
  }

  /** q135: exact-substring duplicate spans (the suffix-array-style
    * stride-1 pass, beyond-reference tier) — 10-token windows at
    * every position, first corpus-wide occurrence owns the hash,
    * per-doc duplicated-token coverage as the UNION of overlapping
    * duplicate spans (in-array fold). The synthetic corpus's heavy
    * vocabulary reuse makes cross-document stride-1 collisions —
    * including chunk-straddling ones q124 cannot see — common. */
  private def q135(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextQuality
    TextQuality.dupSpans(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text")
  }

  /** q136: GPT-style sequence packing (beyond-reference tier) —
    * documents concatenated in salted-hash order, the global token
    * stream cut into 512-token training sequences; per doc its global
    * start offset and the pack span. The bucketed-prefix plan is
    * bit-identical to the oracle's single global running-sum window. */
  private def q136(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = t(s, dir, "documents").select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).as("n_tokens"))
    Sampling.packSequences(docs, "doc_id", "n_tokens", 512, "p1")
  }

  /** q149: exact-substring benchmark decontamination (beyond-reference
    * tier) — the GPT-3-style N-token-overlap method over the q115
    * bench arms: a doc is contaminated when any 8-token run appears
    * verbatim in the eval set. Rides the native rolling WindowHashes
    * on BOTH sides; the eval hashes broadcast. The verbatim-copy arm
    * contaminates its sources (and their exact/near twins sharing an
    * 8-run); the 6-word-prefix and 4-token novel arms produce ZERO
    * window hashes — the short-prompt no-false-positive edge. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextQuality
    val d = t(s, dir, "documents")
    TextQuality.spanContamination(d, benchDocs(d), "doc_id", "text", 8)
  }

  /** q148: whole-document greedy packing (beyond-reference tier) —
    * the SFT-style packer: documents NEVER truncate across pack
    * boundaries; a doc opens a new pack when it would overflow the
    * current one, in salted-hash order within hash range buckets
    * (16 here). The fold is non-associative (no window expresses
    * it) — per-bucket typed flatMapGroups in Spark, a recursive CTE
    * in the DuckDB oracle; exact integer arithmetic throughout. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = t(s, dir, "documents").select(col("doc_id"),
      size(TextFunctions.tokens(col("text"))).as("n_tokens"))
    Sampling.packWhole(docs, "doc_id", "n_tokens", 512, "pw1",
      bucketBits = 4)
  }

  /** q137: temperature-based mixture resampling (beyond-reference
    * tier) — per-source weights ∝ mass^0.5 (up-weighting small
    * sources), corpus resampled to 2/5 of its token mass, admission
    * by salted-hash threshold. alpha = 0.5 keeps the weight math on
    * IEEE-exact sqrt so the DuckDB oracle is bit-identical. */
  private def q137(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = t(s, dir, "documents").select(col("doc_id"),
      col("source"),
      size(TextFunctions.tokens(col("text"))).as("n_tokens"))
    Sampling.temperatureResample(docs, "doc_id", "n_tokens", "source",
      0.5, 2, 5, "t1")
  }

  /** q138: the composed training-data TAIL end-to-end (beyond-
    * reference tier) — repetition quality gate → temperature mixture
    * resampling (α=0.5, half the gated token mass) → 256-token
    * sequence packing → contiguous 32-pack training shards. q126
    * gates the curation FRONT (scrub→screen→budget→split); this
    * gates everything a training run needs after it: the final
    * (doc, pack, shard) layout. Oracle chains every stage. */
  private def q138(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Sampling, TextQuality}
    val d = t(s, dir, "documents")
    // the gate's text HOFs are the expensive stage and FOUR downstream
    // consumers re-read it (mass agg, admit join, bucket histogram,
    // pack window) — landed once (q126's multi-consumer convention)
    val gated = graft.core.Materialize.temp(
      TextQuality.repetitionScreens(
        d.select(col("doc_id"), col("source"), col("text")), "text")
        .filter(col("keep"))
        .select(col("doc_id"), col("source"), col("n_tokens")),
      "graft-curation-gate")._1
    val mixed = Sampling.temperatureResample(gated, "doc_id",
      "n_tokens", "source", 0.5, 1, 2, "c2")
      .select(col("doc_id"), col("source"), col("n_tokens"))
    Sampling.packSequences(mixed, "doc_id", "n_tokens", 256, "c2")
      .withColumn("shard_id",
        floor(col("pack_id") / lit(32)).cast("long"))
  }

  /** q150: the composed SFT training tail end-to-end (beyond-
    * reference tier) — where q138 is the PRETRAINING tail (documents
    * may split across packs), this is the fine-tuning layout: quality
    * gate → temperature resample (α=0.5, half the gated mass) →
    * WHOLE-document greedy packing (512-token packs, docs never
    * truncate) → 32-pack shards. Chains the r15 `packWhole` operator
    * into a real consumer; the oracle re-derives the non-associative
    * greedy fold with a recursive CTE over the gated+resampled frame.
    * Same Materialize convention as q138 (the gate's text HOFs feed
    * the mass agg, admit join, and the pack fold). */
  private def q150(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Sampling, TextQuality}
    val d = t(s, dir, "documents")
    val gated = graft.core.Materialize.temp(
      TextQuality.repetitionScreens(
        d.select(col("doc_id"), col("source"), col("text")), "text")
        .filter(col("keep"))
        .select(col("doc_id"), col("source"), col("n_tokens")),
      "graft-sft-gate")._1
    val mixed = Sampling.temperatureResample(gated, "doc_id",
      "n_tokens", "source", 0.5, 1, 2, "sft1")
      .select(col("doc_id"), col("n_tokens"))
    Sampling.packWhole(mixed, "doc_id", "n_tokens", 512, "sft1",
        bucketBits = 4)
      // 32 consecutive packs per shard; 2^32 divides by 32, so shards
      // never straddle buckets (integer div — exact past 2^53)
      .withColumn("shard_id", expr("pack_id div 32"))
  }

  /** q152: Bloom-prefiltered incremental exact dedup (beyond-
    * reference tier) — "which of today's batch is already in the
    * corpus": the corpus hashes fold into a broadcast Bloom filter
    * (one pass, no corpus shuffle), filter MISSES are definitely new,
    * filter HITS verify verbatim against the streaming corpus. The
    * fixture plants half the batch as verbatim corpus copies
    * (doc_id % 14) and half as suffixed novelties; the oracle is the
    * PLAIN text-equality EXISTS — the filter is a pure pruning
    * refinement, so result equality is the whole correctness claim
    * (the q146 salted-join convention). */
  private def q152(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val k = col("doc_id")
    val batch = d.filter(pmod(k, lit(7)) === 0)
      .select((k + 200000).as("doc_id"),
        when(pmod(k, lit(14)) === 0, col("text"))
          .otherwise(concat(col("text"), lit(" novel suffix")))
          .as("text"))
    Dedup.bloomSeenFlags(d, batch, "doc_id", "text")
      .select(col("doc_id"), col("is_seen"))
  }

  /** q141: the shard MANIFEST a training launcher reads — q138's
    * (doc, pack, shard) layout rolled up per shard: doc count, token
    * mass, pack range. One keyed agg over the composed tail. */
  private def q141(s: SparkSession, dir: String): DataFrame =
    q138(s, dir).groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        min(col("pack_id")).as("first_pack"),
        max(col("pack_end")).as("last_pack"))

  val queries: Map[String, Q] = Map(
    "q152_bloom_incremental_dedup" -> (q152 _),
    "q150_sft_pack_tail" -> (q150 _),
    "q134_url_ccnet_dedup" -> (q134 _),
    "q135_dup_spans" -> (q135 _),
    "q136_sequence_packing" -> (q136 _),
    "q148_pack_whole_docs" -> (q148 _),
    "q149_span_decontamination" -> (q149 _),
    "q137_temperature_resample" -> (q137 _),
    "q138_curation_pack_shard" -> (q138 _),
    "q141_shard_manifest" -> (q141 _),
    "q112_dedup_components" -> (q112 _),
    "q114_hash_split_stratified" -> (q114 _),
    "q122_repetition_screens" -> (q122 _),
    "q123_mixture_sampling" -> (q123 _),
    "q124_paragraph_dedup" -> (q124 _),
    "q125_pii_scrub" -> (q125 _),
    "q126_curation_scrub_mix" -> (q126 _),
    "q115_decontamination" -> (q115 _),
    "q116_curation_pipeline" -> (q116 _),
    "q31_text_token_counts" -> (q31 _),
    "q32_text_quality_score" -> (q32 _),
    "q33_text_langid_profile" -> (q33 _),
    "q34_text_fingerprint_winnow" -> (q34 _),
    "q35_dedup_exact_md5" -> (q35 _),
    "q36_dedup_jaccard_rare_shingle" -> (q36 _),
    "q37_dedup_minhash_lsh" -> (q37 _),
    "q38_dedup_simhash_hamming" -> (q38 _),
    "q41_multimodal_binary_meta" -> (q41 _))

  // ---- shared oracle fragments -------------------------------------

  private val toksCte =
    """toks AS (SELECT doc_id, lang, u.w FROM
      |  (SELECT doc_id, lang, list_filter(string_split(text,' '), x -> x <> '') ws FROM documents) t,
      |  unnest(t.ws) u(w))""".stripMargin

  private val shCte =
    """sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(ws, i, i+2), ' ') AS shingle
      |  FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') ws FROM documents) t,
      |  unnest(range(1, len(t.ws)-1)) u(i))""".stripMargin

  private val jaccardTail =
    """sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |com AS (SELECT c.da, c.db, count(*) common FROM cand c
      |  JOIN sh x ON x.doc_id = c.da JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
      |  GROUP BY 1, 2)
      |SELECT c.da, c.db,
      |floor(CAST(common AS DOUBLE)/CAST(na.n + nb.n - common AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS jaccard
      |FROM com c JOIN sizes na ON na.doc_id = c.da JOIN sizes nb ON nb.doc_id = c.db""".stripMargin

  /** DuckDB twin of `TextFunctions.charHash`: the same 56-bit
    * polynomial fold, as a list_reduce over codepoints. */
  private def chash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e,''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(h,c) -> (h*31+c) % ${graft.functions.TextFunctions.CharHashMod})"

  /** Shared q115/q116 benchmark CTEs: the three bench arms + their
    * distinct 3-gram shingles. */
  private val benchCtes =
    """bench AS (
      |  SELECT doc_id + 100000 AS bench_id, text FROM documents
      |    WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, array_to_string(list_slice(
      |    list_filter(string_split(text,' '), x -> x <> ''), 1, 6), ' ')
      |    FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 300000,
      |    'novel benchmark question ' || CAST(doc_id AS VARCHAR)
      |    FROM documents WHERE doc_id % 13 = 0),
      |bsh AS (SELECT DISTINCT bench_id,
      |    array_to_string(list_slice(ws, i, i+2), ' ') AS shingle
      |  FROM (SELECT bench_id, list_filter(string_split(text,' '),
      |    x -> x <> '') ws FROM bench) t,
      |  unnest(range(1, len(t.ws)-1)) u(i))""".stripMargin

  private val minhashMins = (0 until 16).map(i =>
    s"min(((sid % ${Dedup.Prime})*${Dedup.hashA(i)}+${Dedup.hashB(i)}) % ${Dedup.Prime}) AS s$i").mkString(", ")

  private val bandTab = (0 until 4).map(b =>
    s"SELECT doc_id, $b AS band, concat_ws('|', s${4 * b}, s${4 * b + 1}, s${4 * b + 2}, s${4 * b + 3}) AS key FROM sig")
    .mkString(" UNION ALL ")

  private val simhashSums = (0 until 32).map(j =>
    s"CAST(sum(cnt * (((wh >> $j) & 1)*2 - 1)) AS BIGINT) AS bs$j").mkString(", ")

  private val simhashCase = (0 until 32).map(j =>
    s"CASE WHEN bs$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")

  /** q138's full DuckDB recomputation (gate → temperature resample →
    * pack → shard); q141 aggregates it into the shard manifest. */
  private val packShardSql: String = {
    val tempH = chash("CAST(doc_id AS VARCHAR) || ':temp:c2'")
    val packH = chash("CAST(doc_id AS VARCHAR) || ':pack:c2'")
    s"""WITH tk AS (SELECT doc_id, source,
       |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |  FROM documents),
       |m0 AS (SELECT doc_id, source, ws, len(ws) AS n,
       |  list_transform(range(1, len(ws)),
       |    i -> ws[i] || ' ' || ws[i+1]) AS bi,
       |  list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tri
       |  FROM tk),
       |c AS (SELECT doc_id, source, n,
       |  CASE WHEN n > 0 THEN list_max(list_transform(list_distinct(ws),
       |    w -> len(list_filter(ws, x -> x = w)))) ELSE 0 END AS topw,
       |  CASE WHEN len(bi) > 0 THEN list_max(list_transform(
       |    list_distinct(bi), w -> len(list_filter(bi, x -> x = w))))
       |    ELSE 0 END AS topb,
       |  len(tri) AS ntri, len(list_distinct(tri)) AS dtri
       |  FROM m0),
       |f AS (SELECT doc_id, source, CAST(n AS INTEGER) AS n_tokens,
       |  CASE WHEN n > 0 THEN floor(CAST(topw AS DOUBLE) /
       |    CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
       |    ELSE 0.0 END AS twf,
       |  CASE WHEN n > 0 THEN floor(CAST(topb * 2 AS DOUBLE) /
       |    CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
       |    ELSE 0.0 END AS tbf,
       |  CASE WHEN ntri > 0 THEN floor(CAST(ntri - dtri AS DOUBLE) /
       |    CAST(ntri AS DOUBLE) * 1000000 + 0.5) / 1000000.0
       |    ELSE 0.0 END AS dtf
       |  FROM c),
       |g AS (SELECT doc_id, source, n_tokens FROM f
       |  WHERE twf <= 0.20 AND tbf <= 0.40 AND dtf <= 0.30),
       |mm AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS m,
       |  sqrt(CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE)) AS w
       |  FROM g GROUP BY 1),
       |tt AS (SELECT CAST(sum(m) AS BIGINT) AS totm,
       |  list_reduce(list_prepend(0.0, list(w ORDER BY source)),
       |    (a, b) -> a + b) AS tot FROM mm),
       |aa AS (SELECT source,
       |  CAST(floor(least(CAST(1.0 AS DOUBLE),
       |    CAST((totm * 1) // 2 AS DOUBLE) * w / tot
       |      / CAST(m AS DOUBLE)) * 1e6) AS BIGINT) AS admit_ppm
       |  FROM mm, tt),
       |adm AS (SELECT g.doc_id, g.source, g.n_tokens
       |  FROM g JOIN aa USING (source)
       |  WHERE $tempH % 1000000 < aa.admit_ppm),
       |p AS (SELECT doc_id, source, n_tokens,
       |  CAST(sum(n_tokens) OVER (ORDER BY $packH, doc_id) AS BIGINT)
       |    AS cum_tokens
       |  FROM adm WHERE n_tokens > 0)
       |SELECT doc_id, source, n_tokens, cum_tokens,
       |  cum_tokens - n_tokens AS start_offset,
       |  (cum_tokens - n_tokens) // 256 AS pack_id,
       |  (cum_tokens - 1) // 256 AS pack_end,
       |  (cum_tokens - 1) // 256 - (cum_tokens - n_tokens) // 256 + 1
       |    AS n_packs,
       |  (cum_tokens - n_tokens) // 256 // 32 AS shard_id
       |FROM p""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q31_text_token_counts" ->
      """SELECT doc_id, source,
        |CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS INTEGER) AS n_ws,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe,
        |floor(CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS DOUBLE)
        |  / CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS chars_per_tok
        |FROM documents""".stripMargin,
    "q32_text_quality_score" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS INTEGER) AS n_tokens,
        |  CAST(list_sum(list_transform(list_filter(string_split(text,' '), x -> x <> ''),
        |    x -> length(x))) AS INTEGER) AS sum_len,
        |  CAST(len(list_filter(string_split(text,' '),
        |    x -> list_contains(['the','a','of','and','to','in'], x))) AS INTEGER) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |floor(CAST(sum_len AS DOUBLE)/CAST(n_tokens AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS avg_tok_len,
        |floor(CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) * 1000000 + 0.5) / 1000000.0 AS stop_ratio,
        |floor((0.5 * (CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE))
        |  + 0.3 * least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE)/50.0)
        |  + 0.2 * least(CAST(1.0 AS DOUBLE),
        |      (CAST(sum_len AS DOUBLE)/CAST(n_tokens AS DOUBLE))/8.0)) * 1000000 + 0.5) / 1000000.0 AS quality_score
        |FROM b""".stripMargin,
    "q33_text_langid_profile" ->
      s"""WITH $toksCte,
         |wc AS (SELECT lang, w, count(*) c FROM toks GROUP BY 1, 2),
         |prof AS (SELECT lang AS plang, w FROM
         |  (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY c DESC, w ASC) r FROM wc) x
         |  WHERE r <= 10),
         |dw AS (SELECT DISTINCT doc_id, w FROM toks),
         |scores AS (SELECT dw.doc_id, p.plang, count(*) score FROM dw JOIN prof p ON dw.w = p.w
         |  GROUP BY 1, 2),
         |langs AS (SELECT DISTINCT lang AS plang FROM documents),
         |grid AS (SELECT d.doc_id, d.lang, l.plang FROM documents d CROSS JOIN langs l),
         |sc AS (SELECT g.doc_id, g.lang, g.plang, coalesce(s.score, 0) AS score
         |  FROM grid g LEFT JOIN scores s ON s.doc_id = g.doc_id AND s.plang = g.plang),
         |pred AS (SELECT doc_id, lang, plang FROM
         |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) r
         |   FROM sc) x WHERE r = 1)
         |SELECT doc_id, lang AS actual, plang AS predicted, (lang = plang) AS correct
         |FROM pred""".stripMargin,
    "q34_text_fingerprint_winnow" ->
      s"""WITH ids AS (SELECT doc_id,
         |  list_transform(list_filter(string_split(text,' '), x -> x <> ''),
         |    w -> ${chash("w")} % 1000003) AS ids FROM documents),
         |hs AS (SELECT doc_id, list_transform(range(1, len(ids)-2), t ->
         |  (ids[t] + ids[t+1]*31 + ids[t+2]*961 + ids[t+3]*29791) % 1000003) AS hs
         |  FROM ids)
         |SELECT doc_id,
         |CAST(list_aggregate(hs, 'min') AS BIGINT) AS fingerprint,
         |CAST(len(hs) AS INTEGER) AS n_hashes,
         |CAST(len(list_distinct(hs)) AS INTEGER) AS n_distinct
         |FROM hs""".stripMargin,
    "q35_dedup_exact_md5" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,
    "q122_repetition_screens" ->
      """WITH tk AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |m AS (SELECT doc_id, ws, len(ws) AS n,
        |  list_transform(range(1, len(ws)),
        |    i -> ws[i] || ' ' || ws[i+1]) AS bi,
        |  list_transform(range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tri
        |  FROM tk),
        |c AS (SELECT doc_id, n,
        |  CASE WHEN n > 0 THEN list_max(list_transform(list_distinct(ws),
        |    w -> len(list_filter(ws, x -> x = w)))) ELSE 0 END AS topw,
        |  CASE WHEN len(bi) > 0 THEN list_max(list_transform(
        |    list_distinct(bi), w -> len(list_filter(bi, x -> x = w))))
        |    ELSE 0 END AS topb,
        |  len(tri) AS ntri, len(list_distinct(tri)) AS dtri
        |  FROM m),
        |f AS (SELECT doc_id, CAST(n AS INTEGER) AS n_tokens,
        |  CASE WHEN n > 0 THEN floor(CAST(topw AS DOUBLE) /
        |    CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS top_word_frac,
        |  CASE WHEN n > 0 THEN floor(CAST(topb * 2 AS DOUBLE) /
        |    CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS top_bigram_frac,
        |  CASE WHEN ntri > 0 THEN floor(CAST(ntri - dtri AS DOUBLE) /
        |    CAST(ntri AS DOUBLE) * 1000000 + 0.5) / 1000000.0
        |    ELSE 0.0 END AS dup_trigram_frac
        |  FROM c)
        |SELECT *, top_word_frac <= 0.20 AND top_bigram_frac <= 0.40
        |  AND dup_trigram_frac <= 0.30 AS keep FROM f""".stripMargin,
    "q123_mixture_sampling" -> {
      val mixH = chash("CAST(doc_id AS VARCHAR) || ':mix:m1'")
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |    AS INTEGER) AS n_tokens,
         |  $mixH AS h FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY h, doc_id) AS BIGINT) AS cum_tokens FROM d),
         |b AS (SELECT source,
         |  150 + (CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER)
         |    % 4) * 120 AS token_budget
         |  FROM (SELECT DISTINCT source FROM documents))
         |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
         |  CAST(b.token_budget AS INTEGER) AS token_budget
         |FROM c JOIN b USING (source)
         |WHERE c.cum_tokens - c.n_tokens < b.token_budget""".stripMargin
    },
    "q135_dup_spans" -> {
      val tokH = chash("t")
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |th AS (SELECT doc_id, ws,
         |  list_transform(ws, t -> $tokH) AS hs FROM tk),
         |occ AS (SELECT doc_id, i AS pos,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_slice(hs, i + 1, i + 10)),
         |    (h, c) -> (h * 31 + c) %
         |      ${graft.functions.TextFunctions.CharHashMod}) AS h
         |  FROM th, unnest(range(0, len(ws) - 10 + 1)) u(i)
         |  WHERE len(ws) >= 10),
         |fl AS (SELECT doc_id, pos,
         |  row_number() OVER (PARTITION BY h
         |    ORDER BY doc_id, pos) > 1 AS is_dup FROM occ),
         |agg AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_windows,
         |  list_sort(list(pos) FILTER (WHERE is_dup)) AS dps
         |  FROM fl GROUP BY doc_id),
         |enc AS (SELECT doc_id, n_dup_windows,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(dps, x -> CAST(x AS BIGINT))),
         |    (s, p) -> greatest(s // 4294967296, p + 10) * 4294967296
         |      + (s % 4294967296)
         |      + greatest(CAST(0 AS BIGINT),
         |          p + 10 - greatest(p, s // 4294967296)))
         |    % 4294967296 AS dup_token_count
         |  FROM agg)
         |SELECT t.doc_id,
         |  CAST(len(t.ws) AS INTEGER) AS n_tokens,
         |  COALESCE(e.n_dup_windows, CAST(0 AS BIGINT)) AS n_dup_windows,
         |  COALESCE(e.dup_token_count, CAST(0 AS BIGINT))
         |    AS dup_token_count,
         |  CASE WHEN len(t.ws) > 0 THEN
         |    floor(CAST(COALESCE(e.dup_token_count, 0) AS DOUBLE)
         |      / CAST(len(t.ws) AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |  ELSE 0.0 END AS dup_token_frac
         |FROM tk t LEFT JOIN enc e ON e.doc_id = t.doc_id""".stripMargin
    },
    "q134_url_ccnet_dedup" -> {
      val paraH = chash("para")
      s"""WITH wu AS (SELECT doc_id, n_chars,
         |  text || CASE WHEN doc_id % 2 = 0 THEN ' Res 42 OK!'
         |    ELSE ' res 77 ok' END AS t,
         |  (CASE WHEN doc_id % 2 = 0 THEN 'https://WWW.'
         |    ELSE 'http://' END)
         |  || 'Site' || CAST(doc_id % 40 AS VARCHAR)
         |  || '.Example.com/Path' || CAST(doc_id % 25 AS VARCHAR)
         |  || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
         |  || (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x&b=2&a=1'
         |       WHEN doc_id % 5 = 1 THEN '?a=1&b=2'
         |       WHEN doc_id % 5 = 2 THEN '?b=2&a=1&fbclid=zz'
         |       ELSE '' END)
         |  || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END) AS url
         |  FROM documents),
         |canon AS (SELECT doc_id, n_chars, t,
         |  lower(split_part(base, '/', 1))
         |  || regexp_replace(substring(base,
         |       len(split_part(base, '/', 1)) + 1), '/+$$', '')
         |  || (CASE WHEN sq <> '' THEN '?' || sq ELSE '' END)
         |    AS canonical_url
         |  FROM (SELECT doc_id, n_chars, t,
         |    split_part(nf, '?', 1) AS base,
         |    array_to_string(list_sort(list_filter(
         |      string_split(CASE WHEN instr(nf, '?') > 0
         |        THEN regexp_extract(nf, '^[^?]*\\?(.*)$$', 1)
         |        ELSE '' END, '&'),
         |      p -> p <> '' AND NOT regexp_matches(p,
         |        '^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)='))),
         |      '&') AS sq
         |    FROM (SELECT doc_id, n_chars, t,
         |      split_part(regexp_replace(regexp_replace(trim(url),
         |        '^[Hh][Tt][Tt][Pp][Ss]?://', ''),
         |        '^[Ww][Ww][Ww]\\.', ''), '#', 1) AS nf
         |      FROM wu))),
         |marked AS (SELECT doc_id, canonical_url, t,
         |  row_number() OVER (PARTITION BY canonical_url
         |    ORDER BY n_chars DESC, doc_id) > 1 AS is_url_duplicate
         |  FROM canon),
         |norm AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(regexp_replace(lower(t),
         |    '[0-9]', '0', 'g'), '[^a-z0 ]', '', 'g'), ' +', ' ', 'g'))
         |    AS nt
         |  FROM marked WHERE NOT is_url_duplicate),
         |tk AS (SELECT doc_id,
         |  list_filter(string_split(nt, ' '), x -> x <> '') AS ws
         |  FROM norm),
         |ch AS (SELECT doc_id, i AS para_idx,
         |  array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') AS para
         |  FROM tk, unnest(range(0, ((len(ws) - 1) // 10) + 1)) u(i)
         |  WHERE len(ws) > 0),
         |occ AS (SELECT doc_id, para_idx, $paraH AS para_hash
         |  FROM ch WHERE para <> ''),
         |fl AS (SELECT doc_id,
         |  row_number() OVER (PARTITION BY para_hash
         |    ORDER BY doc_id, para_idx) > 1 AS is_dup FROM occ),
         |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_paras,
         |  floor(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |    AS dup_para_frac
         |  FROM fl GROUP BY doc_id)
         |SELECT m.doc_id, m.canonical_url, m.is_url_duplicate,
         |  st.n_paras, st.n_dup_paras, st.dup_para_frac
         |FROM marked m LEFT JOIN st ON st.doc_id = m.doc_id""".stripMargin
    },
    "q136_sequence_packing" -> {
      val packH = chash("CAST(doc_id AS VARCHAR) || ':pack:p1'")
      s"""WITH d AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |    AS INTEGER) AS n_tokens,
         |  $packH AS h FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY h, doc_id) AS BIGINT)
         |    AS cum_tokens
         |  FROM d WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, cum_tokens,
         |  cum_tokens - n_tokens AS start_offset,
         |  (cum_tokens - n_tokens) // 512 AS pack_id,
         |  (cum_tokens - 1) // 512 AS pack_end,
         |  (cum_tokens - 1) // 512 - (cum_tokens - n_tokens) // 512 + 1
         |    AS n_packs
         |FROM c""".stripMargin
    },
    "q149_span_decontamination" -> {
      val tokH = chash("t")
      val mod = graft.functions.TextFunctions.CharHashMod
      def winSql(src: String, id: String) =
        s"""(SELECT $id, i AS pos,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_slice(hs, i + 1, i + 8)),
           |    (h, c) -> (h * 31 + c) % $mod) AS wh
           |  FROM (SELECT $id,
           |    list_transform(list_filter(string_split(text, ' '),
           |      x -> x <> ''), t -> $tokH) AS hs FROM $src) s,
           |  unnest(range(0, len(hs) - 8 + 1)) u(i)
           |  WHERE len(hs) >= 8)""".stripMargin
      s"""WITH $benchCtes,
         |docc AS ${winSql("documents", "doc_id")},
         |bocc AS ${winSql("bench", "bench_id")},
         |bh AS (SELECT DISTINCT wh FROM bocc),
         |hits AS (SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_hit_windows,
         |    CAST(count(DISTINCT d.wh) AS BIGINT) AS n_hit_distinct,
         |    CAST(min(pos) AS BIGINT) AS first_hit_pos
         |  FROM docc d JOIN bh USING (wh) GROUP BY 1)
         |SELECT t.doc_id,
         |  CAST(len(list_filter(string_split(t.text, ' '),
         |    x -> x <> '')) AS INTEGER) AS n_tokens,
         |  coalesce(h.n_hit_windows, 0) AS n_hit_windows,
         |  coalesce(h.n_hit_distinct, 0) AS n_hit_distinct,
         |  coalesce(h.first_hit_pos, -1) AS first_hit_pos,
         |  h.doc_id IS NOT NULL AS is_contaminated
         |FROM documents t LEFT JOIN hits h ON h.doc_id = t.doc_id""".stripMargin
    },
    "q148_pack_whole_docs" -> {
      val packH = chash("CAST(doc_id AS VARCHAR) || ':packw:pw1'")
      s"""WITH RECURSIVE d AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |    AS BIGINT) AS n_tokens,
         |  $packH AS h FROM documents),
         |f AS (SELECT doc_id, n_tokens, h,
         |    h // 4503599627370496 AS b
         |  FROM d WHERE n_tokens > 0 AND n_tokens <= 512),
         |o AS (SELECT *, row_number() OVER (PARTITION BY b
         |    ORDER BY h, doc_id) AS rn FROM f),
         |r AS (
         |  SELECT b, rn, doc_id, n_tokens,
         |    CAST(0 AS BIGINT) AS pack_idx, n_tokens AS fill_after
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.b, o.rn, o.doc_id, o.n_tokens,
         |    CASE WHEN r.fill_after + o.n_tokens > 512
         |      THEN r.pack_idx + 1 ELSE r.pack_idx END,
         |    CASE WHEN r.fill_after + o.n_tokens > 512
         |      THEN o.n_tokens ELSE r.fill_after + o.n_tokens END
         |  FROM r JOIN o ON o.b = r.b AND o.rn = r.rn + 1)
         |SELECT doc_id, n_tokens, b AS bucket, pack_idx,
         |  b * 4294967296 + pack_idx AS pack_id, fill_after
         |FROM r""".stripMargin
    },
    "q137_temperature_resample" -> {
      val tempH = chash("CAST(doc_id AS VARCHAR) || ':temp:t1'")
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
         |    AS INTEGER) AS n_tokens,
         |  $tempH AS h FROM documents),
         |m AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS m,
         |  sqrt(CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE)) AS w
         |  FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(m) AS BIGINT) AS totm,
         |  list_reduce(list_prepend(0.0, list(w ORDER BY source)),
         |    (a, b) -> a + b) AS tot FROM m),
         |a AS (SELECT source,
         |  CAST(floor(least(CAST(1.0 AS DOUBLE),
         |    CAST((totm * 2) // 5 AS DOUBLE) * w / tot
         |      / CAST(m AS DOUBLE)) * 1e6) AS BIGINT) AS admit_ppm
         |  FROM m, t)
         |SELECT d.doc_id, d.source, d.n_tokens, a.admit_ppm
         |FROM d JOIN a USING (source)
         |WHERE d.h % 1000000 < a.admit_ppm""".stripMargin
    },
    "q138_curation_pack_shard" -> packShardSql,
    "q152_bloom_incremental_dedup" ->
      """WITH b AS (SELECT doc_id + 200000 AS doc_id,
        |  CASE WHEN doc_id % 14 = 0 THEN text
        |       ELSE text || ' novel suffix' END AS text
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT b.doc_id,
        |  EXISTS(SELECT 1 FROM documents d WHERE d.text = b.text)
        |    AS is_seen
        |FROM b""".stripMargin,
    "q150_sft_pack_tail" -> {
      // the q138 gate+resample CTE chain reseeded for the SFT tail,
      // then the q148 recursive greedy fold over the ADMITTED frame
      val tempH = chash("CAST(doc_id AS VARCHAR) || ':temp:sft1'")
      val packH = chash("CAST(doc_id AS VARCHAR) || ':packw:sft1'")
      // tk..aa carry no seed text (the c2/sft1 seeds live in `adm`'s
      // admission predicate, rebuilt below), so the slice reuses the
      // gate + mass/weight/admit-ppm chain verbatim
      val gateCtes = packShardSql
        .substring(packShardSql.indexOf("tk AS"),
          packShardSql.indexOf(",\nadm AS"))
      s"""WITH RECURSIVE $gateCtes,
         |adm AS (SELECT g.doc_id, g.n_tokens
         |  FROM g JOIN aa USING (source)
         |  WHERE $tempH % 1000000 < aa.admit_ppm),
         |fd AS (SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    $packH AS h, $packH // 4503599627370496 AS b
         |  FROM adm WHERE n_tokens > 0 AND n_tokens <= 512),
         |o AS (SELECT *, row_number() OVER (PARTITION BY b
         |    ORDER BY h, doc_id) AS rn FROM fd),
         |r AS (
         |  SELECT b, rn, doc_id, n_tokens,
         |    CAST(0 AS BIGINT) AS pack_idx, n_tokens AS fill_after
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.b, o.rn, o.doc_id, o.n_tokens,
         |    CASE WHEN r.fill_after + o.n_tokens > 512
         |      THEN r.pack_idx + 1 ELSE r.pack_idx END,
         |    CASE WHEN r.fill_after + o.n_tokens > 512
         |      THEN o.n_tokens ELSE r.fill_after + o.n_tokens END
         |  FROM r JOIN o ON o.b = r.b AND o.rn = r.rn + 1)
         |SELECT doc_id, n_tokens, b AS bucket, pack_idx,
         |  b * 4294967296 + pack_idx AS pack_id, fill_after,
         |  (b * 4294967296 + pack_idx) // 32 AS shard_id
         |FROM r""".stripMargin
    },
    "q141_shard_manifest" ->
      s"""WITH o AS ($packShardSql)
         |SELECT shard_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
         |  min(pack_id) AS first_pack, max(pack_end) AS last_pack
         |FROM o GROUP BY 1""".stripMargin,
    "q124_paragraph_dedup" -> {
      val paraH = chash("para")
      s"""WITH tk AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS ws
         |  FROM documents),
         |ch AS (SELECT doc_id, i AS para_idx,
         |  array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') AS para
         |  FROM tk, unnest(range(0, ((len(ws) - 1) // 10) + 1)) u(i)
         |  WHERE len(ws) > 0),
         |occ AS (SELECT doc_id, para_idx, $paraH AS para_hash
         |  FROM ch WHERE para <> ''),
         |fl AS (SELECT doc_id,
         |  row_number() OVER (PARTITION BY para_hash
         |    ORDER BY doc_id, para_idx) > 1 AS is_dup FROM occ)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_paras,
         |  floor(CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |    AS dup_para_frac
         |FROM fl GROUP BY doc_id""".stripMargin
    },
    "q125_pii_scrub" -> {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\+[0-9]{7,15}"
      s"""WITH inj AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' contact bob' ||
         |    CAST(doc_id AS VARCHAR) || '@mail' ||
         |    CAST(doc_id % 10 AS VARCHAR) || '.example.com now'
         |    ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.' ||
         |    CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |    CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' call +4915' ||
         |    CAST(doc_id % 100000 AS VARCHAR) ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$email')) AS INTEGER)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$ip')) AS INTEGER) AS n_ips,
         |  CAST(len(regexp_extract_all(t, '$phone')) AS INTEGER)
         |    AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$email', '|||EMAIL|||', 'g'),
         |    '$ip', '|||IP|||', 'g'),
         |    '$phone', '|||PHONE|||', 'g') AS scrubbed
         |FROM inj""".stripMargin
    },
    "q126_curation_scrub_mix" -> {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      val phone = "\\+[0-9]{7,15}"
      val paraH = chash("para")
      val mixH = chash("CAST(doc_id AS VARCHAR) || ':mix:m2'")
      val splitH = chash("CAST(doc_id AS VARCHAR) || ':c1'")
      s"""WITH inj AS (SELECT doc_id, source, text ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' contact bob' ||
         |    CAST(doc_id AS VARCHAR) || '@mail' ||
         |    CAST(doc_id % 10 AS VARCHAR) || '.example.com now'
         |    ELSE '' END ||
         |  CASE WHEN doc_id % 4 = 0 THEN ' from 10.' ||
         |    CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |    CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS t0
         |  FROM documents),
         |scr AS (SELECT doc_id, source,
         |  regexp_replace(regexp_replace(regexp_replace(t0,
         |    '$email', '|||EMAIL|||', 'g'),
         |    '$ip', '|||IP|||', 'g'),
         |    '$phone', '|||PHONE|||', 'g') AS t FROM inj),
         |tk AS (SELECT doc_id, source,
         |  list_filter(string_split(t, ' '), x -> x <> '') AS ws FROM scr),
         |m AS (SELECT doc_id, source, ws, len(ws) AS n,
         |  list_transform(range(1, len(ws)),
         |    i -> ws[i] || ' ' || ws[i+1]) AS bi,
         |  list_transform(range(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tri
         |  FROM tk),
         |rep AS (SELECT doc_id, source, n,
         |  CASE WHEN n > 0 THEN floor(CAST(list_max(list_transform(
         |    list_distinct(ws), w -> len(list_filter(ws, x -> x = w))))
         |    AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |    ELSE 0.0 END AS twf,
         |  CASE WHEN n > 0 AND len(bi) > 0 THEN floor(
         |    CAST(list_max(list_transform(list_distinct(bi),
         |      w -> len(list_filter(bi, x -> x = w)))) * 2 AS DOUBLE)
         |    / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |    ELSE 0.0 END AS tbf,
         |  CASE WHEN len(tri) > 0 THEN floor(
         |    CAST(len(tri) - len(list_distinct(tri)) AS DOUBLE)
         |    / CAST(len(tri) AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |    ELSE 0.0 END AS dtf
         |  FROM m),
         |ch AS (SELECT doc_id, i AS para_idx,
         |  array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') AS para
         |  FROM tk, unnest(range(0, ((len(ws) - 1) // 10) + 1)) u(i)
         |  WHERE len(ws) > 0),
         |occ AS (SELECT doc_id, para_idx, $paraH AS para_hash
         |  FROM ch WHERE para <> ''),
         |pf AS (SELECT doc_id,
         |  floor(CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000.0
         |    AS dpf
         |  FROM (SELECT doc_id, row_number() OVER (PARTITION BY para_hash
         |    ORDER BY doc_id, para_idx) > 1 AS dup FROM occ) x
         |  GROUP BY doc_id),
         |gated AS (SELECT r.doc_id, r.source,
         |  CAST(r.n AS INTEGER) AS n_tokens, $mixH AS h
         |  FROM rep r JOIN pf USING (doc_id)
         |  WHERE r.twf <= 0.20 AND r.tbf <= 0.40 AND r.dtf <= 0.30
         |    AND pf.dpf <= 0.5),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY h, doc_id) AS BIGINT) AS cum_tokens FROM gated),
         |b AS (SELECT source,
         |  150 + (CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER)
         |    % 4) * 120 AS token_budget
         |  FROM (SELECT DISTINCT source FROM documents))
         |SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens,
         |  CAST(b.token_budget AS INTEGER) AS token_budget,
         |  $splitH % 100 AS bucket,
         |  CASE WHEN $splitH % 100 < 80 THEN 'train'
         |       WHEN $splitH % 100 < 90 THEN 'val' ELSE 'test' END AS split
         |FROM c JOIN b USING (source)
         |WHERE c.cum_tokens - c.n_tokens < b.token_budget""".stripMargin
    },
    "q114_hash_split_stratified" -> {
      val splitH = chash("CAST(doc_id AS VARCHAR) || ':s1'")
      val capH = chash("CAST(doc_id AS VARCHAR) || ':cap:s1'")
      s"""WITH h AS (SELECT doc_id, lang, $splitH % 100 AS bucket,
         |    $capH AS caph FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY caph, doc_id) AS rk FROM h)
         |SELECT doc_id, lang, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
         |  rk <= 5 AS kept
         |FROM r""".stripMargin
    },
    "q115_decontamination" ->
      """WITH dsh AS (SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(ws, i, i+2), ' ') AS shingle
        |  FROM (SELECT doc_id, list_filter(string_split(text,' '),
        |    x -> x <> '') ws FROM documents) t,
        |  unnest(range(1, len(t.ws)-1)) u(i)),
        |bench AS (
        |  SELECT doc_id + 100000 AS bench_id, text FROM documents
        |    WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, array_to_string(list_slice(
        |    list_filter(string_split(text,' '), x -> x <> ''), 1, 6), ' ')
        |    FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |    'novel benchmark question ' || CAST(doc_id AS VARCHAR)
        |    FROM documents WHERE doc_id % 13 = 0),
        |bsh AS (SELECT DISTINCT bench_id,
        |    array_to_string(list_slice(ws, i, i+2), ' ') AS shingle
        |  FROM (SELECT bench_id, list_filter(string_split(text,' '),
        |    x -> x <> '') ws FROM bench) t,
        |  unnest(range(1, len(t.ws)-1)) u(i)),
        |pairs AS (SELECT d.doc_id, b.bench_id,
        |    count(DISTINCT d.shingle) AS n_common
        |  FROM dsh d JOIN bsh b ON d.shingle = b.shingle
        |  GROUP BY d.doc_id, b.bench_id
        |  HAVING count(DISTINCT d.shingle) >= 3),
        |fl AS (SELECT doc_id, count(*) AS n_bench, max(n_common) AS max_common
        |  FROM pairs GROUP BY doc_id)
        |SELECT doc.doc_id, doc.lang, fl.doc_id IS NOT NULL AS contaminated,
        |  coalesce(fl.n_bench, 0) AS n_bench,
        |  coalesce(fl.max_common, 0) AS max_common
        |FROM documents doc LEFT JOIN fl ON doc.doc_id = fl.doc_id""".stripMargin,
    "q116_curation_pipeline" -> {
      val splitH = chash("CAST(d.doc_id AS VARCHAR) || ':s1'")
      s"""WITH RECURSIVE $shCte,
         |ids AS (SELECT doc_id, ${chash("shingle")} AS sid FROM sh),
         |sig AS (SELECT doc_id, $minhashMins FROM ids GROUP BY doc_id),
         |bandtab AS ($bandTab),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bandtab a
         |  JOIN bandtab b ON a.band = b.band AND a.key = b.key
         |    AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         |com AS (SELECT c.da, c.db, count(*) common FROM cand c
         |  JOIN sh x ON x.doc_id = c.da
         |  JOIN sh y ON y.doc_id = c.db AND y.shingle = x.shingle
         |  GROUP BY 1, 2),
         |vp AS (SELECT c.da, c.db FROM com c
         |  JOIN sizes na ON na.doc_id = c.da
         |  JOIN sizes nb ON nb.doc_id = c.db
         |  WHERE floor(CAST(common AS DOUBLE) /
         |    CAST(na.n + nb.n - common AS DOUBLE) * 1000000 + 0.5)
         |    / 1000000.0 >= 0.5),
         |edges AS (SELECT da AS src, db AS dst FROM vp
         |  UNION ALL SELECT db, da FROM vp),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON rr.id = e.src),
         |compo AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |$benchCtes,
         |cpairs AS (SELECT s2.doc_id, b.bench_id,
         |    count(DISTINCT s2.shingle) AS n_common
         |  FROM sh s2 JOIN bsh b ON s2.shingle = b.shingle
         |  GROUP BY 1, 2 HAVING count(DISTINCT s2.shingle) >= 3),
         |cont AS (SELECT DISTINCT doc_id FROM cpairs)
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN $splitH % 100 < 80 THEN 'train'
         |       WHEN $splitH % 100 < 90 THEN 'val' ELSE 'test' END AS split,
         |  coalesce(compo.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(compo.cluster_id, d.doc_id) = d.doc_id AS is_canonical,
         |  cont.doc_id IS NOT NULL AS contaminated,
         |  coalesce(compo.cluster_id, d.doc_id) = d.doc_id
         |    AND cont.doc_id IS NULL AS final_kept
         |FROM documents d
         |LEFT JOIN compo ON d.doc_id = compo.id
         |LEFT JOIN cont ON d.doc_id = cont.doc_id""".stripMargin
    },
    "q112_dedup_components" ->
      """WITH RECURSIVE o AS (SELECT o_orderkey AS k FROM orders
        |  WHERE o_orderkey <= 5000),
        |e0 AS (
        |  SELECT CAST(k AS BIGINT) AS a, CAST(k + 1 AS BIGINT) AS b
        |    FROM o WHERE k % 10 < 3
        |  UNION ALL SELECT k, k + 100 FROM o WHERE k % 100 = 0
        |  UNION ALL SELECT k, k + 2 FROM o WHERE k % 7 = 3
        |  UNION ALL SELECT k + 20000, k + 30000 FROM o WHERE k % 11 = 5),
        |edges AS (SELECT a AS src, b AS dst FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, rr.r FROM reach rr JOIN edges e ON rr.id = e.src),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size
        |  FROM comp GROUP BY cluster_id)
        |SELECT c.id, c.cluster_id, c.id = c.cluster_id AS is_canonical,
        |  s.cluster_size
        |FROM comp c JOIN sizes s USING (cluster_id)""".stripMargin,
    "q36_dedup_jaccard_rare_shingle" ->
      s"""WITH $shCte,
         |rare AS (SELECT shingle FROM (SELECT shingle, count(*) df FROM sh GROUP BY 1) x
         |  WHERE df BETWEEN 2 AND 20),
         |cand AS (SELECT a.doc_id da, b.doc_id db
         |  FROM sh a JOIN rare r ON a.shingle = r.shingle
         |  JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |$jaccardTail
         |WHERE floor(CAST(common AS DOUBLE)/CAST(na.n + nb.n - common AS DOUBLE) * 1000000 + 0.5) / 1000000.0 >= 0.5""".stripMargin,
    "q37_dedup_minhash_lsh" ->
      s"""WITH $shCte,
         |ids AS (SELECT doc_id, ${chash("shingle")} AS sid FROM sh),
         |sig AS (SELECT doc_id, $minhashMins FROM ids GROUP BY doc_id),
         |bandtab AS ($bandTab),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bandtab a
         |  JOIN bandtab b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
         |$jaccardTail""".stripMargin,
    "q38_dedup_simhash_hamming" ->
      s"""WITH wtok AS (SELECT doc_id, u.w, count(*) cnt FROM
         |  (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') ws FROM documents) t,
         |  unnest(t.ws) u(w) GROUP BY 1, 2),
         |wi AS (SELECT doc_id, cnt,
         |  (((${chash("w")} % 1000003)*${Dedup.SimhashMul}+97) % 4294967296) AS wh
         |  FROM wtok),
         |bs AS (SELECT doc_id, $simhashSums FROM wi GROUP BY doc_id),
         |sig AS (SELECT doc_id, CAST($simhashCase AS BIGINT) AS simhash FROM bs),
         |blocks AS (SELECT doc_id, simhash, u.k AS blk, (simhash >> CAST(8*u.k AS INTEGER)) & 255 AS bval
         |  FROM sig, unnest(range(0, 4)) u(k)),
         |cand AS (SELECT DISTINCT a.doc_id da, a.simhash ha, b.doc_id db, b.simhash hb
         |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,
    "q41_multimodal_binary_meta" ->
      """WITH b AS (SELECT doc_id, text,
        |  (doc_id % 10000) * 400 AS dur_ms,
        |  CAST(100 + doc_id % 1200 AS INTEGER) AS w,
        |  CAST(90 + doc_id % 800 AS INTEGER) AS h
        |  FROM documents),
        |fr AS (SELECT doc_id,
        |  CAST(floor(CAST(dur_ms AS DOUBLE) / 1000.0 * 30.0) AS BIGINT)
        |    AS nf
        |  FROM b),
        |pl AS (SELECT doc_id,
        |  CASE WHEN nf > 0 THEN least(nf - 1, CAST(75 AS BIGINT)) // 5 + 1
        |    ELSE 0 END AS n_sampled,
        |  CASE WHEN nf > 0
        |    THEN (least(nf - 1, CAST(75 AS BIGINT)) // 5) * 5
        |    ELSE CAST(-1 AS BIGINT) END AS last_idx
        |  FROM fr),
        |rz AS (SELECT doc_id,
        |  CASE WHEN greatest(w, h) <= 224 THEN 1.0
        |    ELSE 224.0 / CAST(greatest(w, h) AS DOUBLE) END AS scale,
        |  w, h FROM b)
        |SELECT b.doc_id,
        |CAST(octet_length(encode(b.text)) AS INTEGER) AS byte_len,
        |sha256(b.text) AS sha,
        |CAST(length(b.text) // 100 AS INTEGER) AS n_frames,
        |CAST(pl.n_sampled AS INTEGER) AS n_sampled_frames,
        |pl.last_idx AS last_frame_idx,
        |CAST(floor(CAST(rz.w AS DOUBLE) * rz.scale) AS INTEGER) AS rs_w,
        |CAST(floor(CAST(rz.h AS DOUBLE) * rz.scale) AS INTEGER) AS rs_h,
        |CASE WHEN b.doc_id % 3 = 0 THEN 'png'
        |  WHEN b.doc_id % 3 = 1 THEN 'jpeg' END AS img_format,
        |CASE WHEN b.doc_id % 3 IN (0, 1) THEN rz.w END AS img_w,
        |CASE WHEN b.doc_id % 3 IN (0, 1) THEN rz.h END AS img_h,
        |CASE WHEN b.doc_id % 3 IN (0, 1) THEN
        |  CAST(floor(CAST(rz.w AS DOUBLE) * rz.scale) AS INTEGER)
        |  END AS rs2_w,
        |CASE WHEN b.doc_id % 3 IN (0, 1) THEN
        |  CAST(floor(CAST(rz.h AS DOUBLE) * rz.scale) AS INTEGER)
        |  END AS rs2_h
        |FROM b JOIN pl ON pl.doc_id = b.doc_id
        |JOIN rz ON rz.doc_id = b.doc_id""".stripMargin)
}
