package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.authors.{WorkAuthorCurations, WorkAuthorGuard}

/** Pins for the UpdateWorkAuthors guard (oracle: q97/q98): the
  * names_compatible v2 branches the arm fixture doesn't isolate, the
  * telemetry tier split, and a crossed-seat swap through batch → guard
  * → apply → curation claim. */
class WorkAuthorGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compat(aL: Option[String], aF: Option[String],
      bL: Option[String], bF: Option[String], aR: String,
      bR: String): Boolean = {
    val df = Seq((aL, aF, bL, bF, aR, bR))
      .toDF("al", "af", "bl", "bf", "ar", "br")
    df.select(WorkAuthorGuard.namesCompatibleV2(col("al"), col("af"),
      col("bl"), col("bf"), col("ar"), col("br")).as("c"))
      .collect()(0).getBoolean(0)
  }

  test("namesCompatibleV2: every branch") {
    // same last + initial agreement
    assert(compat(Some("park"), Some("ann"), Some("park"), Some("a"),
      "", ""))
    // same last, one first missing
    assert(compat(Some("park"), None, Some("park"), Some("ann"), "", ""))
    // same last, initials differ
    assert(!compat(Some("park"), Some("ann"), Some("park"), Some("bo"),
      "", ""))
    // order swap: a_last = b_first AND a_first = b_last
    assert(compat(Some("wei"), Some("li"), Some("li"), Some("wei"), "", ""))
    // containment with min length 4 + initial agreement
    assert(compat(Some("vandermei"), Some("jan"), Some("mei"), Some("jan"),
      "", "") == false) // 'mei' shorter than 4 → no containment
    assert(compat(Some("vandermeer"), Some("jan"), Some("meer"), Some("jan"),
      "", "")) // endswith, min length 4
    assert(compat(Some("meerdink"), Some("jan"), Some("meer"), Some("jan"),
      "", "")) // startswith
    // containment but initials disagree
    assert(!compat(Some("vandermeer"), Some("jan"), Some("meer"),
      Some("bob"), "", ""))
    // unparsed fallback: raw equality after lower/trim
    assert(compat(None, None, Some("x"), Some("y"), " Ann Park ",
      "ann park"))
    assert(!compat(None, None, Some("x"), Some("y"), "Ann Park", "Other"))
  }

  test("telemetry: realign vs legacy tier split") {
    val guard = Seq(
      // verdict, curated, invalidate, realign, rebind
      ("INCOMPATIBLE", false, true, Some(10L), Some(10L)), // realign tier
      ("INCOMPATIBLE", false, true, None, Some(20L)), // legacy tier
      ("INCOMPATIBLE", true, false, None, None), // curated hold
      ("ABSTAIN_CJK", false, false, None, None),
      ("COMPATIBLE", false, false, None, None))
      .toDF("verdict", "curated_hold", "invalidate", "realign_author_id",
        "rebind_author_id")
    val r = WorkAuthorGuard.telemetry(guard).collect()(0)
    def g(n: String) = r.getLong(r.fieldIndex(n))
    assert(g("changed_name_positions") == 5 && g("incompatible") == 3)
    assert(g("abstain_cjk") == 1 && g("curated_holds") == 1)
    assert(g("would_invalidate") == 2 && g("rebindable") == 2)
    assert(g("realign_tier") == 1 && g("legacy_tier") == 1)
  }

  test("crossed seats: guard judges both, apply refreshes names only, a claim rebinds") {
    def au(n: String) = s"named_struct('raw_author_name', '$n', " +
      "'raw_affiliation_strings', array('MIT'), 'is_corresponding', false)"
    // the work's authorships now list the two seated authors swapped
    val base = Seq(1L).toDF("id").selectExpr("id",
      "TIMESTAMP '2024-02-01' AS updated_date",
      s"array(${au("Bob Kim")}, ${au("Ann Park")}) AS authorships")
    def seat(sq: Int, name: String, auth: Long) = Seq(1L).toDF("work_id")
      .selectExpr("work_id", s"$sq AS author_sequence",
        s"CAST($auth AS BIGINT) AS author_id", s"'$name' AS raw_author_name",
        "array('MIT') AS raw_affiliation_strings",
        "false AS is_corresponding",
        "TIMESTAMP '2023-10-01' AS created_at",
        "TIMESTAMP '2023-12-01' AS updated_at")
    val seats = seat(0, "Ann Park", 70L).unionByName(seat(1, "Bob Kim", 71L))
    val names = Seq(("Ann Park", "park", "ann"), ("Bob Kim", "kim", "bob"))
      .toDF("raw_author_name", "match_last", "match_first")
      .withColumn("parsed_last", col("match_last"))
      .withColumn("parsed_first", col("match_first"))
    val profiles = Seq((70L, "Ann Park"), (71L, "Bob Kim"))
      .toDF("id", "display_name").withColumn("full_name", col("display_name"))
    val noClaims = Seq.empty[(Long, String)].toDF("work_id", "raw_author_name")
    val noRemoves = Seq.empty[(Long, Long)].toDF("work_id", "author_id")
    val noLegacy = Seq.empty[(Long, Int, String, Long)]
      .toDF("work_id", "author_sequence", "raw_author_name", "author_id")
    val batch = WorkAuthorGuard.updateBatch(base, seats,
      lit("2024-01-15").cast("timestamp"))
    val guard = WorkAuthorGuard.guardBatch(batch, seats, names, noClaims,
      noRemoves, profiles, profiles.drop("full_name"), noLegacy)
    // both seats incompatible; each rebind hypothesis re-homes the
    // author the other seat freed
    assert(guard.filter(col("verdict") === "INCOMPATIBLE").count() == 2)
    assert(guard.filter(col("rebind_author_id") ===
      lit(71L) - col("author_sequence")).count() == 2)
    val applied = WorkAuthorGuard.applyBatch(seats, batch, base, names,
      noLegacy, lit("2024-06-01").cast("timestamp"))
    assert(applied.filter(col("raw_author_name") === "Bob Kim" &&
      col("author_id") === 70L).count() == 1)
    val claim = Seq((1L, "Bob Kim", 99L, "2024-06-02", 1L))
      .toDF("work_id", "raw_author_name", "author_id", "c", "curation_id")
      .withColumn("created", col("c").cast("timestamp")).drop("c")
    val claimed = WorkAuthorCurations.applyClaims(applied, claim,
      lit("2024-06-02").cast("timestamp"))
    assert(claimed.filter(col("raw_author_name") === "Bob Kim" &&
      col("author_id") === 99L).count() == 1)
  }
}
