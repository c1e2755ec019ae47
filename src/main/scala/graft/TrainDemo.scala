package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Tables}
import graft.operators.{Dedup, Sampling, TextQuality}

/** Consumer driver for the training-data curation surface (the
  * beyond-reference tier, as PipelineDemo is for the walden slice):
  * the FULL funnel a pretraining corpus runs, composed from the
  * library operators exactly as a user would —
  *
  *   URL dedup → PII scrub → repetition gate → paragraph dedup gate →
  *   MinHash-LSH near-dup components (canonicals only) → benchmark
  *   decontamination (shingle-count AND exact-substring span) →
  *   temperature mixture resample → sequence packing → shard manifest,
  *   plus the SFT tail: resample → WHOLE-document packing → manifest
  *
  * Prints the funnel, checks stage invariants (monotone counts, pack
  * tiling, no-split/no-overflow whole-doc packs, manifest
  * conservation, deterministic rerun), exit 1 on any failure. Every
  * expensive multi-consumer stage lands at a Materialize boundary,
  * mirroring the q126/q138 conventions.
  */
object TrainDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local("graft-train-demo", 8)

    var ok = true
    def check(name: String, cond: Boolean): Unit = {
      println(s"[train] $name: ${if (cond) "OK" else "FAIL"}")
      ok &= cond
    }
    def funnel(stage: String, n: Long): Unit =
      println(f"[train] $stage%-34s $n%7d docs")

    val d = Tables(spark, sfDir, "documents")
    val n0 = d.count()
    funnel("input corpus", n0)

    // 1. URL-level dedup (synthetic URLs by doc-id arithmetic, the
    // q134 shape: scheme/www/param-order/tracking variants collide)
    val k = col("doc_id")
    val withUrl = d.withColumn("url", concat(
      when(pmod(k, lit(2)) === 0, lit("https://WWW."))
        .otherwise(lit("http://")),
      lit("site"), pmod(k, lit(40)).cast("string"),
      lit(".example.com/p"), pmod(k, lit(25)).cast("string"),
      when(pmod(k, lit(5)) === 0, lit("?utm_source=x&b=2&a=1"))
        .when(pmod(k, lit(5)) === 1, lit("?a=1&b=2"))
        .otherwise(lit(""))))
    val urlKept = TextQuality.urlDedup(withUrl, "doc_id", "url",
        "n_chars")
      .filter(!col("is_url_duplicate"))
      .select(col("doc_id"), col("source"), col("text"))
    val n1 = urlKept.count()
    funnel("after URL dedup", n1)
    check("URL dedup dropped collisions", n1 < n0 && n1 > 0)

    // 2. PII scrub, repetition gate, cross-doc paragraph-dup gate
    val scrubbed = Materialize.temp(
      TextQuality.piiScrub(urlKept, "text")
        .select(col("doc_id"), col("source"),
          col("scrubbed").as("text")),
      "train-demo-scrub")._1
    val rep = TextQuality.repetitionScreens(scrubbed, "text")
    val para = TextQuality.paragraphDupStats(
      TextQuality.paragraphDedup(scrubbed, "doc_id", "text"), "doc_id")
    val gated = Materialize.temp(
      rep.join(para, Seq("doc_id"))
        .filter(col("keep") && col("dup_para_frac") <= 0.5)
        .select(col("doc_id"), col("source"), col("text"),
          col("n_tokens")),
      "train-demo-gate")._1
    val n2 = gated.count()
    funnel("after quality gates", n2)
    check("quality gates kept a nonempty subset", n2 <= n1 && n2 > 0)

    // 3. MinHash-LSH near-dup components → canonicals only
    val sh = Dedup.shingles(gated, "doc_id", "text", 3)
    val sid = Dedup.withShingleIds(sh).select(col("doc_id"), col("sid"))
    val combined = Dedup.signatureWithSets(sid, "doc_id", 16)
    val verified = Dedup.jaccardForSets(
        Dedup.lshCandidates(combined, "doc_id", 4, 4),
        combined, "doc_id")
      .filter(col("jaccard") >= 0.5).select(col("da"), col("db"))
    val nonCanonical = Dedup.connectedComponents(verified, maxIter = 4)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    val nearKept = gated.join(nonCanonical, Seq("doc_id"), "left_anti")
    val n3 = nearKept.count()
    funnel("after near-dup canonicals", n3)
    check("near-dup kept canonicals only", n3 <= n2 && n3 > 0)

    // 4. benchmark decontamination — BOTH screens: the shingle-count
    // form (q115: >= minCommon distinct shingles anywhere) and the
    // exact-substring span form (q149: any 8-token run verbatim,
    // byte-verified); a doc flagged by either is dropped
    val bench = gated.filter(pmod(k, lit(10)) === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val dirty = Dedup.contaminationPairs(
        Dedup.shingles(nearKept, "doc_id", "text", 3),
        Dedup.shingles(bench, "doc_id", "text", 3),
        "doc_id", minCommon = 3)
      .select(col("doc_id"))
    val spanDirty = TextQuality.spanContamination(nearKept, bench,
        "doc_id", "text", 8)
      .filter(col("is_contaminated")).select(col("doc_id"))
    val dirtyAll = dirty.unionByName(spanDirty).distinct()
    val clean = Materialize.temp(
      nearKept.join(dirtyAll, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_tokens")),
      "train-demo-clean")._1
    val n4 = clean.count()
    funnel("after decontamination", n4)
    check("decontamination dropped bench overlaps", n4 < n3 && n4 > 0)
    check("span screen catches at least the verbatim-copy arm",
      spanDirty.count() > 0)

    // 5. temperature resample (α=0.5, 1/2 the clean mass) → pack →
    // shard manifest
    val mixed = Sampling.temperatureResample(clean, "doc_id",
        "n_tokens", "source", 0.5, 1, 2, "demo")
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val packed = Sampling.packSequences(mixed, "doc_id", "n_tokens",
        256, "demo")
      .withColumn("shard_id", floor(col("pack_id") / lit(32))
        .cast("long"))
    val packedM = Materialize.temp(packed, "train-demo-packed")._1
    val n5 = packedM.count()
    funnel("after resample+pack", n5)
    check("resample thinned the corpus", n5 < n4 && n5 > 0)

    // invariants: the packed stream tiles exactly (max cum == sum of
    // tokens), and the manifest conserves docs + token mass
    val agg = packedM.agg(sum(col("n_tokens")).as("t"),
      max(col("cum_tokens")).as("c")).collect()(0)
    check("pack tiling exact (sum tokens == max cum)",
      agg.getLong(0) == agg.getLong(1))
    val manifest = packedM.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok"))
    val m = manifest.agg(sum(col("n_docs")), sum(col("tok"))).collect()(0)
    check("manifest conserves docs + tokens",
      m.getLong(0) == n5 && m.getLong(1) == agg.getLong(0))
    manifest.orderBy(col("shard_id")).show(5, false)

    // 6. the SFT tail over the same clean corpus: resample → WHOLE-
    // document greedy packing (docs never truncate) → shard manifest
    val sftMixed = Sampling.temperatureResample(clean, "doc_id",
        "n_tokens", "source", 0.5, 1, 2, "sft")
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val sftPacked = Materialize.temp(
      Sampling.packWhole(sftMixed, "doc_id", "n_tokens", 256, "sft",
          bucketBits = 4)
        .withColumn("shard_id", expr("pack_id div 32")),
      "train-demo-sft")._1
    val n6 = sftPacked.count()
    funnel("SFT tail: resample+packWhole", n6)
    check("sft packs never overflow seqLen",
      sftPacked.filter(col("fill_after") > 256).count() == 0)
    check("sft docs never split (one layout row per doc)",
      sftPacked.select("doc_id").distinct().count() == n6)
    check("sft packing kept every fit-sized resampled doc",
      n6 == sftMixed.filter(col("n_tokens") > 0 &&
        col("n_tokens") <= 256).count())
    val sftTok = sftPacked.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    val sftM = sftPacked.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok"))
      .agg(sum(col("n_docs")), sum(col("tok"))).collect()(0)
    check("sft manifest conserves docs + tokens",
      sftM.getLong(0) == n6 && sftM.getLong(1) == sftTok)

    // determinism: the same seed reruns to the identical admitted set
    val rerun = Sampling.temperatureResample(clean, "doc_id",
        "n_tokens", "source", 0.5, 1, 2, "demo")
      .agg(count(lit(1)), sum(col("doc_id"))).collect()(0)
    val first = mixed.agg(count(lit(1)), sum(col("doc_id"))).collect()(0)
    check("resample deterministic across reruns",
      rerun.getLong(0) == first.getLong(0) &&
        rerun.getLong(1) == first.getLong(1))

    println(s"[train] RESULT: ${if (ok) "ALL OK" else "FAILURES"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
