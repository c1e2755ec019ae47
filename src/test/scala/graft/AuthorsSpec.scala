package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.entities.Authors

class AuthorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("particle backfill: leading/compound particles deleted, clean " +
    "parses and mid-name particles kept") {
    // reference: ReparseParticleContaminatedNames.ipynb cells 2/4 —
    // the delete re-opens the anti-join so the next build re-parses
    val names = Seq(
      ("Ludwig van Beethoven", "van beethoven"), // old parse kept the particle → delete
      ("Ludwig Beethoven", "beethoven"),         // post-strip clean → kept
      ("Jan van der Berg", "van der"),           // bare compound → delete
      ("Ana de la Cruz", "de la cruz"),          // leading 'de la ' → delete
      ("Luis del Rio", "del rio"),               // leading 'del ' → delete
      ("Eva Vandenberg", "vandenberg"),          // no particle space — kept
      ("Li Zu", "zu"))                           // bare 'zu' w/o trailing space — kept
      .toDF("raw_author_name", "last")
      .select(col("raw_author_name"),
        struct(lit("x").as("first"), col("last")).as("parsed_name"))
    val kept = graft.authors.AuthorNames.deleteParticleContaminated(names)
      .select("raw_author_name").as[String].collect().toSet
    assert(kept == Set("Ludwig Beethoven", "Eva Vandenberg", "Li Zu"))
  }

  test("authorTopics: grouping-sets counts, corpus totals, e7 shares") {
    val awt = Seq(
      (1L, 10L, "tA"), (1L, 11L, "tA"), (1L, 12L, "tB"),
      (2L, 20L, "tA"), (2L, 20L, "tA"), // dup row collapses
      (2L, 21L, "tB"), (2L, 22L, "tB"))
      .toDF("author_id", "work_id", "topic_id")
    val out = Authors.authorTopics(awt).orderBy("author_id").collect()
    val a1 = out(0)
    val topics1 = a1.getSeq[org.apache.spark.sql.Row](a1.fieldIndex("topics"))
      .map(r => (r.getAs[String]("id"), r.getAs[Int]("count")))
    assert(topics1 == Seq(("tA", 2), ("tB", 1)))
    // totals: tA=3 works (10,11,20), tB=3 (12,21,22) => author1 shares 2/3, 1/3
    val share1 = a1.getSeq[org.apache.spark.sql.Row](a1.fieldIndex("topic_share"))
      .map(r => (r.getAs[String]("id"), r.getAs[Long]("value_e7")))
    assert(share1 == Seq(("tA", 6666667L), ("tB", 3333333L)))
  }

  test("xConcepts: top-5 by count with id tiebreak, score-desc array") {
    val awc = (1 to 7).flatMap(c => (1 to c).map(w =>
      (1L, w.toLong, s"c$c", c / 10.0))).toDF("author_id", "work_id", "concept_id", "score")
    val out = Authors.xConcepts(awc).collect()(0)
    val ids = out.getSeq[org.apache.spark.sql.Row](out.fieldIndex("x_concepts"))
      .map(_.getAs[String]("id"))
    // top-5 by count: c7..c3 survive; array sorted by score desc => same order
    assert(ids == Seq("c7", "c6", "c5", "c4", "c3"))
  }

  test("affiliations: per-institution active years, newest first") {
    val awi = Seq((1L, Option(2020), "iX"), (1L, Option(2022), "iX"),
      (1L, Option(2021), "iY"), (1L, Option(2020), "iX"),
      (1L, Option.empty[Int], "iZ"))
      .toDF("author_id", "pub_year", "institution_id")
    val out = Authors.affiliations(awi).collect()(0)
    val affs = out.getSeq[org.apache.spark.sql.Row](out.fieldIndex("affiliations"))
      .map(r => (r.getAs[String]("institution_id"), r.getSeq[Int](1)))
    assert(affs == Seq(("iX", Seq(2022, 2020)), ("iY", Seq(2021))))
  }

  test("countsByYear: flat per-year rows; rows without a year dropped") {
    val staging = Seq(
      (1L, Option(2020), true, 3L), (1L, Option(2020), false, 4L),
      (1L, Option(2021), true, 10L), (1L, Option.empty[Int], true, 99L),
      (2L, Option.empty[Int], false, 5L))
      .toDF("author_id", "pub_year", "is_oa", "work_cited_by_count")
    val out = Authors.countsByYear(staging)
    assert(out.columns.toSeq == Seq("author_id", "year", "works_count",
      "oa_works_count", "cited_by_count"))
    assert(out.as[(Long, Int, Int, Int, Int)].collect().toSet ==
      Set((1L, 2020, 2, 1, 7), (1L, 2021, 1, 1, 10)))
  }

  test("lastKnownInstitution: most recent work wins with deterministic tiebreak") {
    val awi = Seq((1L, 2020, 5L, "iOld"), (1L, 2022, 9L, "iNew"), (1L, 2022, 8L, "iMid"))
      .toDF("author_id", "pub_year", "work_id", "institution_id")
    val out = Authors.lastKnownInstitution(awi).collect()(0)
    assert(out.getAs[String]("last_known_institution") == "iNew")
  }

  test("Institutions.ancestors: closure, cycle termination, lineage rollup") {
    import graft.entities.Institutions
    // chain a->b->c plus a 2-cycle x<->y
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("y", "x"))
      .toDF("child_id", "parent_id")
    val anc = Institutions.ancestors(edges, maxDepth = 6)
    val byInst = anc.as[(String, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    assert(byInst("a") == Set(("b", 1), ("c", 2)))
    assert(byInst("b") == Set(("c", 1)))
    // cycle: each node sees the other once, never itself, and terminates
    assert(byInst("x") == Set(("y", 1)))
    assert(byInst("y") == Set(("x", 1)))
    // the lineage rollup: one array per institution, closest first
    val lin = Institutions.lineage(anc).select("institution_id", "lineage_ids")
      .as[(String, Seq[String])].collect().toMap
    assert(lin("a") == Seq("b", "c") && lin("b") == Seq("c"))
  }
}
