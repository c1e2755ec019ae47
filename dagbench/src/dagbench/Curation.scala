package dagbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize
import graft.operators.{Dedup, Sampling, TextQuality}

/** The training-data funnel over a generated document corpus: URL
  * dedup → PII scrub → repetition and paragraph-duplicate gates →
  * MinHash-LSH near-duplicate components → decontamination → resample
  * → pack. Every call is an `operators` call; no walden layer runs. */
object Curation {

  def landCorpus(gen: Gen, dir: String): Corpus = {
    val docs = Materialize.parquet(gen.documents(), s"$dir/docs")
    Corpus(dir, Truth.of(docs,
      "docs" -> count(lit(1)),
      "sentinels" -> count(when(col("kind") === "sentinel", 1)),
      "dup_groups" -> countDistinct(when(col("kind").isin("exact", "near"), col("root")))))
  }

  def run(c: Ctx, in: Corpus): Map[String, DataFrame] = c.layer("operators") {
    val docs = c.spark.read.parquet(in.path("docs"))
    val urlKept = c.land("operators", "TextQuality.urlDedup", "url_kept")(
      TextQuality.urlDedup(docs.select(col("doc_id"), col("source"), col("text"),
          col("url"), col("n_chars")), "doc_id", "url", "n_chars")
        .filter(!col("is_url_duplicate"))
        .select(col("doc_id"), col("source"), col("text")))
    val scrubbed = c.land("operators", "TextQuality.piiScrub", "scrubbed")(
      TextQuality.piiScrub(urlKept, "text")
        .select(col("doc_id"), col("source"), col("scrubbed").as("text")))
    val gated = c.land("operators", "TextQuality.repetitionScreens", "gated") {
      val rep = TextQuality.repetitionScreens(scrubbed, "text")
      val para = TextQuality.paragraphDupStats(
        TextQuality.paragraphDedup(scrubbed, "doc_id", "text"), "doc_id")
      rep.join(para, Seq("doc_id"))
        .filter(col("keep") && col("dup_para_frac") <= 0.5)
        .select(col("doc_id"), col("source"), col("text"), col("n_tokens"))
    }
    val sets = c.land("operators", "Dedup.signatureWithSets", "minhash_sets")(
      Dedup.signatureWithSets(Dedup.withShingleIds(
        Dedup.shingles(gated, "doc_id", "text", 3)).select(col("doc_id"), col("sid")),
        "doc_id", 16))
    val candidates = c.land("operators", "Dedup.lshCandidates", "lsh_candidates")(
      Dedup.lshCandidates(sets, "doc_id", 4, 4))
    val verified = c.land("operators", "Dedup.jaccardForSets", "verified_pairs")(
      Dedup.jaccardForSets(candidates, sets, "doc_id")
        .filter(col("jaccard") >= 0.5).select(col("da"), col("db")))
    val nonCanonical = c.land("operators", "Dedup.connectedComponents", "non_canonical")(
      Dedup.connectedComponents(verified, maxIter = 4)
        .filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id")))
    val nearKept = gated.join(nonCanonical, Seq("doc_id"), "left_anti")
    val clean = c.land("operators", "Dedup.contaminationPairs", "clean") {
      val bench = gated.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
      val dirty = Dedup.contaminationPairs(
          Dedup.shingles(nearKept, "doc_id", "text", 3),
          Dedup.shingles(bench, "doc_id", "text", 3), "doc_id", minCommon = 3)
        .select(col("doc_id"))
      val spanDirty = TextQuality.spanContamination(nearKept, bench, "doc_id", "text", 8)
        .filter(col("is_contaminated")).select(col("doc_id"))
      nearKept.join(dirty.unionByName(spanDirty).distinct(), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }
    val packed = c.land("operators", "Sampling.packSequences", "packed")(
      Sampling.packSequences(Sampling.temperatureResample(clean, "doc_id", "n_tokens",
          "source", 0.5, 1, 2, "bench").select(col("doc_id"), col("source"), col("n_tokens")),
        "doc_id", "n_tokens", 256, "bench"))
    Map("docs" -> docs, "gated" -> gated, "candidates" -> candidates,
      "verified" -> verified, "non_canonical" -> nonCanonical, "clean" -> clean,
      "packed" -> packed)
  }
}
