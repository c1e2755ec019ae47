package graft.resolve

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[SourceMatcher.attachSourcesFull]] against its branch-per-provenance
  * spec ([[SourceMatcherReference]]) on seeded random registries and
  * locations with unique `native_id`s, then the one-row-out-per-row-in
  * rule on repeated `native_id`s, where the two differ. Rows are compared
  * with multiplicity, `source_id` and `is_oa_source` included. */
class SourceMatcherParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val idType = ArrayType(StructType(Seq(StructField("id", StringType),
    StructField("namespace", StringType), StructField("relationship", StringType))))
  private val sourceSchema = StructType(Seq(
    StructField("id", LongType), StructField("display_name", StringType),
    StructField("issns", ArrayType(StringType)),
    StructField("datacite_ids", ArrayType(StringType)),
    StructField("is_oa", BooleanType), StructField("merge_into_id", LongType),
    StructField("type", StringType), StructField("publisher", StringType)))
  private val locationSchema = StructType(Seq(
    StructField("provenance", StringType), StructField("native_id", StringType),
    StructField("ids", idType), StructField("endpoint_id", StringType),
    StructField("source_name", StringType), StructField("publisher", StringType),
    StructField("raw_type", StringType), StructField("best_doi", StringType),
    StructField("landing_page_url", StringType), StructField("pdf_url", StringType)))

  private def frame(rs: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)

  // Small domains, so ISSNs, clients, names and publishers collide.
  private val names = Seq("J 0", "J-0!", "J 1", "J 2", "J 2", "Journal 3")
  private val publishers = Seq("Pub A", "PubA!", "Pub B", "Press C")
  private val scopus = 4306400063L // on both exclusion lists
  private val researchSquare = 4306525896L // on the CTAS list only

  private def sources(rnd: scala.util.Random): Seq[Row] =
    ((1L to 24L) ++ Seq(scopus, researchSquare)).map { id =>
      def opt[A](a: => A): A = if (rnd.nextInt(6) == 0) null.asInstanceOf[A] else a
      val ebook = rnd.nextInt(3) == 0
      Row(id, opt(names(rnd.nextInt(names.size))),
        opt(Seq.fill(rnd.nextInt(4))(s"i${rnd.nextInt(8)}")),
        opt(Seq.fill(rnd.nextInt(3))(s"dc${rnd.nextInt(5)}")),
        opt(rnd.nextBoolean()),
        if (rnd.nextInt(6) == 0) id + 100 else null,
        if (ebook) "ebook platform" else "journal",
        opt(publishers(rnd.nextInt(publishers.size))))
    }

  private def endpoints(rnd: scala.util.Random): Seq[Row] =
    (0 until 6).flatMap { e =>
      // every other endpoint maps to two sources
      Seq.fill(1 + e % 2)(Row(s"ep$e", (1 + rnd.nextInt(26)).toLong))
    } :+ Row("ep0", scopus)

  private val namespaces = Seq("eissn", "lissn", "pissn", "issn", "doi", "datacite_client")
  private val relationships = Seq("self", "IsVersionOf", "References", null)
  private val provenances = Seq("crossref", "landing_page", "repo", "repo_backfill",
    "datacite", "pubmed", "mag")
  private val urls = Seq("https://europepmc.org/a", "https://www.osti.gov/b",
    "http://hal.science/c", "https://example.org/d")
  private val dois = Seq("10.2139/ssrn.9", "10.26434/chemrxiv.1", "10.1/x")
  private val rawTypes = Seq("Book", "monograph", "journal-article",
    "info:eu-repo/semantics/bookpart")

  private def locations(rnd: scala.util.Random, n: Int): Seq[Row] =
    (0 until n).map { i =>
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
      def opt[A](a: => A): A = if (rnd.nextInt(3) == 0) null.asInstanceOf[A] else a
      val ids = opt(Seq.fill(rnd.nextInt(5)) {
        val ns = pick(namespaces)
        val id = if (ns == "datacite_client") s"dc${rnd.nextInt(6)}" else s"i${rnd.nextInt(9)}"
        Row(id, ns, pick(relationships))
      })
      Row(pick(provenances), s"L$i", ids, opt(s"ep${rnd.nextInt(7)}"),
        opt(pick(names ++ Seq("J.1", "journal-3", "bioRxiv", "Research Square", "Unknown"))),
        opt(pick(publishers :+ "The Research Square Platform LLC")),
        opt(pick(rawTypes)), opt(pick(dois)), opt(pick(urls)), opt(pick(urls)))
    }

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toString).groupBy(identity).map { case (k, v) => k -> v.size }

  test("seeded random registries and locations: same rows as the reference") {
    for (seed <- Seq(5, 6, 7, 8)) {
      val rnd = new scala.util.Random(seed)
      val src = frame(sources(rnd), sourceSchema)
      val e2s = frame(endpoints(rnd), StructType(Seq(
        StructField("endpoint_id", StringType), StructField("source_id", LongType))))
      val locs = frame(locations(rnd, 240), locationSchema)
      val excluded = Seq(3L, 11L, scopus, researchSquare)
      val got = SourceMatcher.attachSourcesFull(locs, src, e2s, excluded)
      val want = SourceMatcherReference.attachSourcesFull(locs, src, e2s, excluded)
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        want.schema.map(f => (f.name, f.dataType)), s"seed $seed: schema")
      val (g, w) = (multiset(got), multiset(want))
      val differ = (g.keySet ++ w.keySet).filter(k => g.get(k) != w.get(k))
      assert(differ.isEmpty, s"seed $seed: ${differ.size} rows differ, e.g. " +
        differ.take(3).map(k => s"$k: ${g.getOrElse(k, 0)} vs ${w.getOrElse(k, 0)}"))
      // the draw reaches every tier and every fallback
      val bySource = got.groupBy(col("provenance"), col("source_id").isNull)
        .count().collect()
      assert(bySource.count(_.getBoolean(1) == false) >= 6, s"seed $seed: matches")
      assert(got.count() == 240)
      // ... and every arm of the manual cascade
      val manual = Set(4306400806L, 4306402487L, 4306402512L, 4210172589L,
        4393918830L, 4306402567L, 4306402450L)
      val ids = got.select("source_id").distinct().collect().map(_.get(0)).toSet
      assert(manual.forall(ids.contains), s"seed $seed: manual arms")
    }
  }

  test("one row out per row in, matched from its own ids, on repeated native_ids") {
    val s = spark; import s.implicits._
    val src = Seq(
      (1L, Seq("i1"), Seq.empty[String]), (2L, Seq("i2"), Seq.empty[String]),
      (3L, Seq.empty[String], Seq("dc1")), (4L, Seq.empty[String], Seq("dc2")))
      .toDF("id", "issns", "datacite_ids")
      .withColumn("display_name", concat(lit("S"), col("id").cast("string")))
      .withColumn("is_oa", col("id") % 2 === 0)
      .withColumn("merge_into_id", lit(null).cast("long"))
      .withColumn("type", lit("journal"))
      .withColumn("publisher", lit(null).cast("string"))
    def loc(prov: String, nid: String, id: String, ns: String) =
      Row(prov, nid, Seq(Row(id, ns, "self")), null, null, null, null, null, null, null)
    val locs = frame(Seq(
      loc("crossref", "A", "i2", "pissn"), loc("crossref", "A", "i1", "eissn"),
      loc("datacite", "B", "dc2", "datacite_client"),
      loc("datacite", "B", "dc1", "datacite_client"),
      loc("crossref", null, "i2", "eissn"),
      loc("datacite", null, "dc2", "datacite_client")), locationSchema)
    val e2s = Seq.empty[(String, Long)].toDF("endpoint_id", "source_id")
    val got = SourceMatcher.attachSourcesFull(locs, src, e2s)
      .select(col("native_id"), element_at(col("ids"), 1).getField("id"),
        col("source_id"), col("is_oa_source"))
      .as[(String, String, Long, Boolean)].collect().toSet
    assert(got === Set(("A", "i2", 2L, true), ("A", "i1", 1L, false),
      ("B", "dc2", 4L, true), ("B", "dc1", 3L, false),
      (null, "i2", 2L, true), (null, "dc2", 4L, true)))
    // the reference pools the ISSNs of a repeated native_id, keeps one
    // row of a repeated datacite native_id and never matches a null one
    val ref = SourceMatcherReference.attachSourcesFull(locs, src, e2s)
    assert(ref.count() == 5)
    assert(ref.filter(col("native_id") === "A").select("source_id")
      .as[Long].collect().toSeq === Seq(1L, 1L))
  }
}
