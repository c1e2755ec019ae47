package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Repetition-based quality screens for training-data curation
  * (beyond-reference surface; the Gopher/C4/Dolma family of
  * "repetitious document" filters, re-expressed token-based so every
  * fraction has an exact DuckDB twin):
  *  - top_word_frac — occurrences of the single most frequent token
  *    over the token count (Gopher's top-1-gram fraction);
  *  - top_bigram_frac — tokens covered by the most frequent bigram
  *    (2 × its count / n_tokens; may exceed 1 on overlapping runs,
  *    kept unclamped like the character-fraction original);
  *  - dup_trigram_frac — fraction of trigram OCCURRENCES that are
  *    repeats (1 − distinct/total; Gopher's duplicate-n-gram
  *    coverage);
  *  - keep — all fractions under their thresholds.
  *
  * 100 TB posture: one narrow projection, zero shuffle, zero explode —
  * tokens, shingles and the per-document mode counts are native
  * kernels inside whole-stage codegen (graft.plans.TextKernels;
  * documents are short, so the O(n log n) in-row sort is thousands of
  * comparisons per row, not a corpus-wide aggregation).
  */
object TextQuality {

  final case class RepetitionThresholds(maxTopWordFrac: Double = 0.20,
      maxTopBigramFrac: Double = 0.40, maxDupTrigramFrac: Double = 0.30)

  /** Highest occurrence count of any element of the ARRAY<STRING>
    * `arr` (0 for null or empty; null elements count as one value).
    * The native [[graft.plans.TopCount]] kernel sorts a row's
    * elements and takes the longest equal run, O(n log n) per row.
    * The naive distinct×filter form is O(distinct·n) and measured 6×
    * the whole-query time at sf0.1 document lengths (q122 14.9 s →
    * sub-second); the result is identical, so the DuckDB oracles'
    * distinct-count recomputation stays a valid independent check. */
  def topCount(arr: Column): Column =
    org.apache.spark.sql.GraftExpr.column(graft.plans.TopCount(
      org.apache.spark.sql.GraftExpr.expression(arr)))

  private def r6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000.0
  private def frac(num: Column, den: Column): Column =
    when(den > 0, r6(num.cast("double") / den.cast("double")))
      .otherwise(0.0)

  /** Fixed-size token chunks as space-joined "paragraphs" (the unit
    * of cross-document paragraph dedup when the corpus carries no
    * layout newlines; with real paragraphs, split on them instead —
    * the downstream dedup is identical). Final short chunk kept; empty
    * for null or token-less text ([[graft.plans.TokenChunks]]). */
  def tokenChunks(text: Column, chunkSize: Int): Column =
    org.apache.spark.sql.GraftExpr.column(graft.plans.TokenChunks(
      org.apache.spark.sql.GraftExpr.expression(text), chunkSize))

  /** Cross-document paragraph dedup (the Dolma paragraph-level pass):
    * every paragraph occurrence hashes ([[TextFunctions.charHash]]),
    * the FIRST occurrence corpus-wide — ordered by (docId, position)
    * — owns the hash, every later occurrence is a duplicate. Returns
    * one row per occurrence: (docId, para_idx, para_hash,
    * is_duplicate).
    *
    * 100 TB posture — the winner is `min(struct(docId, position))`
    * per hash: a keyed aggregate whose MAP-SIDE PARTIALS bound the
    * hash-keyed shuffle at one struct per (hash × partition), so a
    * Zipfian paragraph (one boilerplate chunk duplicated 10⁷–10⁸
    * times corpus-wide) costs nothing at its reducer. The r15 window
    * formulation partitioned by para_hash — same oracle rows, but the
    * hot hash's ENTIRE occurrence list sorted in one task, and AQE
    * can split skewed join partitions, never window sorts. The
    * winners then roll up PER DOCUMENT (winner lists are bounded by a
    * doc's own paragraph count) and join back on the document id — a
    * unique-ish key, so no shuffle in the plan ever keys on the
    * Zipf-skewed hash with row-level volume. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 10): DataFrame =
    paragraphDedupFromOccurrences(
      paragraphOccurrences(docs, idCol, textCol, chunkSize), idCol)

  /** The (idCol, para_idx, para_hash) occurrence frame of
    * [[paragraphDedup]] — exposed separately because the election
    * consumes it TWICE (the hash-keyed winner aggregate and the
    * per-document join-back): a composed pipeline should land this
    * frame at a Materialize boundary once (the q134 convention)
    * rather than tokenize + chunk the corpus twice in one plan; the
    * tokenization, not the election, is the dominant per-row cost. */
  def paragraphOccurrences(docs: DataFrame, idCol: String,
      textCol: String, chunkSize: Int = 10): DataFrame =
    docs.select(col(idCol),
        posexplode(tokenChunks(col(textCol), chunkSize))
          .as(Seq("para_idx", "para")))
      .filter(col("para") =!= "")
      .withColumn("para_hash", TextFunctions.charHash(col("para")))
      .drop("para")

  /** The first-occurrence election of [[paragraphDedup]] over a
    * precomputed [[paragraphOccurrences]] frame. */
  def paragraphDedupFromOccurrences(paras: DataFrame,
      idCol: String): DataFrame = {
    val wonByDoc = paras.groupBy(col("para_hash"))
      .agg(min(struct(col(idCol), col("para_idx"))).as("__w"))
      .select(col("__w").getField(idCol).as(idCol),
        col("__w").getField("para_idx").as("__wi"))
      .groupBy(col(idCol))
      .agg(collect_list(col("__wi")).as("__wp"))
    paras.join(wonByDoc, Seq(idCol), "left")
      .withColumn("is_duplicate",
        !coalesce(array_contains(col("__wp"), col("para_idx")),
          lit(false)))
      .select(col(idCol), col("para_idx"), col("para_hash"),
        col("is_duplicate"))
  }

  /** Per-document rollup of [[paragraphDedup]]: paragraph counts and
    * the duplicate fraction (what a Dolma-style pipeline thresholds
    * on before dropping or trimming a document). */
  def paragraphDupStats(occurrences: DataFrame, idCol: String): DataFrame =
    occurrences.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("is_duplicate"), 1L).otherwise(0L)).as("n_dup_paras"))
      .withColumn("dup_para_frac",
        floor(col("n_dup_paras").cast("double") /
          col("n_paras").cast("double") * 1000000 + 0.5) / 1000000.0)

  /** PII redaction (the Dolma/CCNet-family scrub): emails, IPv4
    * addresses, and international phone numbers replaced by typed
    * placeholder tokens, with per-kind match counts for audit.
    * Patterns are deliberately lookaround-free so the DuckDB twin is
    * exact. Pure projection. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}"

  def piiScrub(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))))
      .withColumn("n_ips",
        size(regexp_extract_all(col(textCol), lit(Ipv4Re), lit(0))))
      .withColumn("n_phones",
        size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(regexp_replace(col(textCol),
          EmailRe, "|||EMAIL|||"),
          Ipv4Re, "|||IP|||"),
          PhoneRe, "|||PHONE|||"))

  /** URL canonicalization (the CCNet/RefinedWeb/FineWeb-family
    * URL-level dedup key): scheme and `www.` stripped, fragment
    * dropped, tracking params (utm_*, fbclid, gclid, msclkid,
    * mc_eid, igshid, ref, ref_src) removed, remaining query params
    * SORTED, host lowercased (path case preserved), trailing path
    * slashes stripped. Deterministic and lookaround-free so the
    * DuckDB twin is exact. Pure projection. */
  val TrackingParamRe =
    "^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref|ref_src)="

  def urlCanonicalize(url: Column): Column = {
    val noScheme = regexp_replace(trim(url),
      "^[Hh][Tt][Tt][Pp][Ss]?://", "")
    val noWww = regexp_replace(noScheme, "^[Ww][Ww][Ww]\\.", "")
    val noFrag = substring_index(noWww, "#", 1)
    val base = substring_index(noFrag, "?", 1)
    val query = when(noFrag.contains("?"),
      regexp_extract(noFrag, "^[^?]*\\?(.*)$", 1)).otherwise(lit(""))
    val kept = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamRe))
    val sortedQ = array_join(array_sort(kept), "&")
    val host = lower(substring_index(base, "/", 1))
    val path = regexp_replace(
      base.substr(length(substring_index(base, "/", 1)) + 1,
        lit(1000000)),
      "/+$", "")
    concat(host, path,
      when(sortedQ =!= "", concat(lit("?"), sortedQ)).otherwise(lit("")))
  }

  /** URL-level dedup (the stage CCNet/RefinedWeb run BEFORE any
    * content hashing): rows sharing a canonical URL collapse to one
    * winner — highest `qualityCol`, ties to the smallest id. Returns
    * every input row + (canonical_url, is_url_duplicate).
    *
    * 100 TB posture — two chained keyed aggregates, both with
    * map-side partials, elect the winner without ever sorting a hot
    * URL's occurrence list in one task (real URL frequency is
    * Zipfian; the r15 per-URL window was the shape AQE cannot split):
    * (1) per (url, quality) the smallest id — partials bound the
    * shuffle at one row per (url × quality × partition); (2) per url
    * the max-quality row — stage 1 already collapsed quality ties, so
    * `max(struct(quality, id))` never compares ids (and an all-NULL-
    * quality url reduces to its single stage-1 row, electing min id,
    * exactly the window's desc_nulls_last order). Winners then join
    * back on (url, id) — id is the unique row key, so the join's
    * composite key is skew-free. Contract: `idCol` is unique per row
    * (duplicate ids would co-elect). */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String,
      qualityCol: String): DataFrame = {
    val withKey = docs.withColumn("canonical_url",
      urlCanonicalize(col(urlCol)))
    val winners = withKey
      .groupBy(col("canonical_url"), col(qualityCol))
      .agg(min(col(idCol)).as("__mid"))
      .groupBy(col("canonical_url"))
      .agg(max(struct(col(qualityCol).as("q"), col("__mid").as("m")))
        .as("__mx"))
      .select(col("canonical_url").as("__cu"),
        col("__mx").getField("m").as("__wid"))
    withKey.join(winners,
        col("canonical_url") <=> col("__cu") &&
          col(idCol) === col("__wid"), "left")
      .withColumn("is_url_duplicate", col("__wid").isNull)
      .drop("__cu", "__wid")
  }

  /** CCNet-style text normalization for near-duplicate line/chunk
    * hashing: lowercase, every digit → '0', punctuation stripped,
    * whitespace collapsed and trimmed. Hashing normalized text
    * catches the case/number/punct-variant near-dups exact hashing
    * misses (CCNet hashes SHA1 of exactly this normalization). */
  def ccnetNormalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      "[0-9]", "0"),
      "[^a-z0 ]", ""),
      " +", " "))

  /** Cross-document NORMALIZED-chunk dedup (the CCNet line-hash pass
    * re-expressed over token chunks): [[ccnetNormalize]] first, then
    * the [[paragraphDedup]] first-occurrence election over the
    * normalized text. Same ONE-keyed-shuffle posture. */
  def ccnetChunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 10): DataFrame =
    paragraphDedup(
      docs.withColumn(textCol, ccnetNormalize(col(textCol))),
      idCol, textCol, chunkSize)

  /** Exact-substring duplicate spans (the Lee-et-al. suffix-array
    * dedup re-expressed Spark-shaped): every STRIDE-1 window of
    * `window` tokens hashes ([[TextFunctions.tokenHashes]] folded by
    * the rolling WindowHashes, so only (pos, hash) longs ever leave the
    * row — never the window strings); the first corpus-wide
    * occurrence of a hash — by (docId, pos) — owns it; every later
    * occurrence marks its whole window-token span duplicated.
    * Per-document output: n_tokens, n_dup_windows, dup_token_count
    * (the UNION length of duplicated spans, merged by an in-array
    * fold over the sorted duplicate positions — no second shuffle),
    * dup_token_frac. Catches cross-document repeats that
    * chunk-aligned dedup ([[paragraphDedup]]) misses when the repeat
    * straddles a chunk boundary. ONE keyed shuffle on the window
    * hash + one keyed agg per doc; the stride-1 fan-out (n windows
    * per doc) is the documented cost of substring-level dedup. */
  /** Exact-substring benchmark decontamination — the GPT-3 / Lee et
    * al. N-token-overlap method (a doc is contaminated when ANY
    * length-`window` token run appears VERBATIM in the eval set),
    * beside the shingle-count form (Dedup.contaminationPairs, q115)
    * which needs `minCommon` distinct shingles anywhere in the doc.
    * Both sides hash per-token then fold the native rolling
    * [[graft.plans.WindowHashes]]; the eval set's distinct window
    * hashes BROADCAST (eval sets are tiny next to a training corpus),
    * the corpus joins them map-side and aggregates per doc — the
    * corpus never shuffles on text, only (id, pos, hash) longs leave
    * the row, and the single shuffle is the per-doc hit aggregation.
    * Eval rows shorter than `window` tokens contribute no hashes (no
    * spurious matches from short prompts).
    *
    * BYTE-EXACT on hits (r16): a 56-bit rolling hash expects a
    * handful of false matches at 10¹² corpus windows × 10⁶ eval
    * hashes, so every hash hit is verified VERBATIM before it flags —
    * candidate (doc, pos) pairs (rare: bounded by the eval hashes'
    * corpus frequency) roll up per doc and broadcast BACK to the
    * corpus scan, which re-reads only the candidate documents' token
    * runs map-side and joins them against the broadcast (hash, span)
    * eval table; a pure hash collision is dropped. The corpus still
    * never shuffles on text — the only text leaving a corpus row is
    * the `window`-token runs at verified-candidate positions (token
    * runs compare joined on U+0001; tokens contain no whitespace, so
    * the join key is injective). */
  def spanContamination(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, window: Int = 8): DataFrame = {
    val sep = "\u0001"
    def winOcc(df: DataFrame): DataFrame = {
      df.select(col(idCol),
          TextFunctions.windowHashes(col(textCol), window).as("__hs"))
        .select(col(idCol), posexplode(col("__hs")).as(Seq("pos", "wh")))
    }
    // eval side: distinct (hash, verbatim span) — eval sets are tiny,
    // so carrying and broadcasting the span strings is free
    val benchSpans = {
      val toks = TextFunctions.tokens(col(textCol))
      bench.select(toks.as("__t"),
          TextFunctions.windowHashes(col(textCol), window).as("__hs"))
        .select(col("__t"), posexplode(col("__hs")).as(Seq("pos", "wh")))
        .select(col("wh"),
          array_join(slice(col("__t"), col("pos") + 1, lit(window)), sep)
            .as("__span"))
        .distinct()
    }
    val benchW = benchSpans.select(col("wh")).distinct()
    val cand = winOcc(docs).join(broadcast(benchW), Seq("wh"))
    val candByDoc = cand.groupBy(col(idCol))
      .agg(collect_list(struct(col("pos"), col("wh"))).as("__cand"))
    val verified = docs.join(broadcast(candByDoc), Seq(idCol))
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"),
        explode(col("__cand")).as("__c"))
      .select(col(idCol), col("__c.pos").as("pos"), col("__c.wh").as("wh"),
        array_join(slice(col("__t"), col("__c.pos") + 1, lit(window)), sep)
          .as("__span"))
      .join(broadcast(benchSpans), Seq("wh", "__span"))
    val hits = verified
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nw"),
        countDistinct(col("wh")).as("__nd"),
        min(col("pos")).cast("long").as("__fp"))
    docs.select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).as("n_tokens"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("__nw"), lit(0L)).as("n_hit_windows"),
        coalesce(col("__nd"), lit(0L)).as("n_hit_distinct"),
        coalesce(col("__fp"), lit(-1L)).as("first_hit_pos"),
        col("__nw").isNotNull.as("is_contaminated"))
  }

  /** 100 TB posture — the hash-ownership election is
    * `min(struct(docId, pos))` per window hash: map-side partials
    * bound the hash-keyed shuffle at one struct per (hash ×
    * partition), so a Zipf-hot 10-token boilerplate span (10⁷–10⁸
    * occurrences) never funnels its occurrence list through one task
    * (the r15 per-hash window did — the shape AQE cannot split).
    * Because EVERY stride-1 position of a document is an occurrence,
    * the duplicate positions are simply the document's position range
    * MINUS its won positions — winners roll up per document (bounded
    * by the doc's own window count), join back on the unique doc id,
    * and an `array_except` recovers the dup-position list; the
    * occurrence frame itself never shuffles again. Oracle rows are
    * identical to the window formulation. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 10): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    // per-token charHash once (O(chars)), then the native rolling
    // window fold (O(n)) — vs the r14-initial per-window string
    // join + re-hash, which was O(n·window·chars) with a string
    // allocation per position (measured 2x on q135 at sf0.1)
    val occ = docs.select(col(idCol),
        TextFunctions.windowHashes(col(textCol), window).as("hs"))
      .select(col(idCol),
        posexplode(col("hs")).as(Seq("pos", "win_hash")))
    val wonByDoc = occ.groupBy(col("win_hash"))
      .agg(min(struct(col(idCol), col("pos"))).as("__w"))
      .select(col("__w").getField(idCol).as(idCol),
        col("__w").getField("pos").cast("long").as("__wpos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__wpos"))).as("__wp"))
    docs.select(col(idCol), n.as("n_tokens"))
      .join(wonByDoc, Seq(idCol), "left")
      .withColumn("__nwin",
        greatest(lit(0L), col("n_tokens").cast("long") - window + 1))
      .withColumn("__wp",
        coalesce(col("__wp"), array().cast("array<long>")))
      // dup positions = the full stride-1 range minus won positions
      // (ascending — sequence ascends and array_except keeps order)
      .withColumn("dps",
        when(col("__nwin") > 0,
          array_except(sequence(lit(0L), col("__nwin") - 1), col("__wp")))
          .otherwise(array().cast("array<long>")))
      .withColumn("n_dup_windows", col("__nwin") - size(col("__wp")))
      .withColumn("dup_token_count",
        aggregate(col("dps"),
          struct(lit(0L).as("pe"), lit(0L).as("tot")),
          (s, p) => struct(
            greatest(s.getField("pe"), p + window).as("pe"),
            (s.getField("tot") + greatest(lit(0L),
              p + window - greatest(p, s.getField("pe")))).as("tot")),
          s => s.getField("tot")))
      .withColumn("dup_token_frac",
        frac(col("dup_token_count"), col("n_tokens")))
      .select(col(idCol), col("n_tokens"), col("n_dup_windows"),
        col("dup_token_count"), col("dup_token_frac"))
  }

  /** Per-document repetition metrics + the keep verdict. */
  def repetitionScreens(docs: DataFrame, textCol: String,
      t: RepetitionThresholds = RepetitionThresholds()): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val bi = TextFunctions.wordShingles(col(textCol), 2)
    val tri = TextFunctions.wordShingles(col(textCol), 3)
    docs
      .withColumn("n_tokens", size(toks))
      .withColumn("top_word_frac", frac(topCount(toks), size(toks)))
      .withColumn("top_bigram_frac",
        frac(topCount(bi) * 2, size(toks)))
      .withColumn("dup_trigram_frac",
        frac(size(tri) - size(array_distinct(tri)), size(tri)))
      .withColumn("keep",
        col("top_word_frac") <= t.maxTopWordFrac &&
          col("top_bigram_frac") <= t.maxTopBigramFrac &&
          col("dup_trigram_frac") <= t.maxDupTrigramFrac)
  }
}
