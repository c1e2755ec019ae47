package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.works.WorkReferences

/** Pins the parse_work_references port: sentinel filter, insert-only
  * newness, staged doi/pmid resolution with update-only-when-NULL. */
class WorkReferencesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def loc(workId: Long,
      refs: Seq[(String, String, String)]) =
    (s"n$workId", "doi", workId, "crossref",
      Option(refs).map(_.map { case (d, p, r) => (d, p,
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String], null.asInstanceOf[Integer], r) }).orNull)

  private def locDf(rows: Seq[(String, String, Long, String,
      Seq[(String, String, String, String, String, Integer, String)])]) =
    rows.toDF("native_id", "native_id_namespace", "work_id", "provenance", "refs")
      .select(col("native_id"), col("native_id_namespace"), col("work_id"),
        col("provenance"), transform(col("refs"), r => struct(
          r.getField("_1").as("doi"), r.getField("_2").as("pmid"),
          r.getField("_3").as("arxiv"), r.getField("_4").as("title"),
          r.getField("_5").as("authors"),
          r.getField("_6").cast("int").as("year"),
          r.getField("_7").as("raw"))).as("references"))

  test("explodeRefs: the all-null single-element sentinel drops the row") {
    val df = locDf(Seq(
      loc(1L, Seq((null, null, null))),                  // sentinel
      loc(2L, Seq(("10.1/x", null, null), (null, "pm1", null)))))
    val out = WorkReferences.explodeRefs(df)
    assert(out.select("citing_work_id").distinct().as[Long].collect().toSeq == Seq(2L))
    assert(out.count() == 2)
  }

  test("explodeRefs: empty, null and sentinel-only references arrays " +
    "give no rows; the real row still explodes") {
    val df = locDf(Seq(
      loc(1L, Seq()),                                   // []
      loc(2L, null),                                    // null
      loc(3L, Seq((null, null, null))),                 // sentinel
      loc(4L, Seq(("10.1/x", null, null), (null, null, "raw ref")))))
    val direct = WorkReferences.explodeRefs(df)
      .select(col("citing_work_id"), col("ref_ind"), col("doi"), col("raw"))
      .as[(Long, Int, String, String)].collect().toSeq.sortBy(_._2)
    assert(direct == Seq((4L, 0, "10.1/x", null), (4L, 1, null, "raw ref")))
    // again from files, so the filter runs in a scan stage rather
    // than folded over a local relation
    val (landed, _) = graft.core.Materialize.temp(df, "graft-refs")
    assert(WorkReferences.explodeRefs(landed).count() == 2)
  }

  test("insert-only + staged resolution: preset ids survive, doi beats pmid, null gates hold") {
    val df = locDf(Seq(
      loc(10L, Seq(("10.1/A", "pmZ", null))),  // doi resolves (case-folded)
      loc(11L, Seq((null, "pm1", null))),      // pmid path (doi-null map row)
      loc(12L, Seq((null, "pm2", null))),      // pmid exists in map WITH doi -> gated out
      loc(13L, Seq(("10.1/q", null, null)))))  // unresolvable
    val idMap = Seq(
      ("10.1/a", null.asInstanceOf[String], java.lang.Long.valueOf(900L), 1L, "ta1"),
      (null.asInstanceOf[String], "PM1", null.asInstanceOf[java.lang.Long], 2L, "ta2"),
      ("10.1/b", "pm2", java.lang.Long.valueOf(901L), 3L, "ta3"))
      .toDF("doi", "pmid", "paper_id", "id", "title_author")
    val exploded = WorkReferences.explodeRefs(df)
    // work 13's row pre-exists with a resolved id that must survive
    val existing = exploded.filter(col("citing_work_id") === 13)
      .withColumn("cited_work_id", lit(-13L))
    val merged = WorkReferences.insertNew(existing, exploded)
    val resolved = WorkReferences.resolveByPmid(
      WorkReferences.resolveByDoi(merged, idMap), idMap)
    val out = WorkReferences.referencedWorks(resolved)
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(10L) == Seq(900L))  // paper_id beats id
    assert(out(11L) == Seq(2L))    // paper_id null -> id
    assert(!out.contains(12L))     // doi-bearing map pmid row is gated out
    assert(out(13L) == Seq(-13L))  // insert-only: preset never rewritten
  }
}
