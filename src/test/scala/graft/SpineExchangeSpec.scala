package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.authors.{AuthorMatcher, Authorships, WorkAuthorGuard}
import graft.resolve.WorkIdResolver

/** The nightly spine's lookups and per-work aggregation chains: the
  * work-id resolver over an empty and an ambiguous key map, and the
  * physical plans — the resolver's lookups broadcast from their
  * landings, and each per-work aggregation chain shuffles once. */
class SpineExchangeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The key columns of every hash-partitioned shuffle in `df`'s plan. */
  private def hashExchanges(df: DataFrame): Seq[Seq[String]] =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] =>
        s.outputPartitioning.asInstanceOf[HashPartitioning].expressions.map {
          case a: Attribute => a.name
          case e => e.sql
        }
    }

  private def locations(keys: (String, String, String)*): DataFrame =
    keys.zipWithIndex.map { case ((d, p, t), i) => (s"l$i", d, p, t) }
      .toDF("loc", "doi", "pmid", "ta")
      .select(col("loc"), struct(col("doi"), col("pmid"),
        lit(null).cast("string").as("arxiv"),
        col("ta").as("title_author")).as("merge_key"))

  private def resolved(locs: DataFrame, idMap: DataFrame): Map[String, (Long, String)] =
    WorkIdResolver.resolve(locs, idMap).select(col("loc"), col("work_id"), col("work_id_source"))
      .as[(String, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap

  test("WorkIdResolver: an empty key map mints an id for every location") {
    val locs = locations(
      ("10.1/a", null, null), ("10.1/a", null, null), (null, "pm1", null),
      (null, null, "a long enough title for the guard|smith"),
      (null, null, "short|x"), ("10.1/b", "pm2", null))
    val empty = Seq.empty[(String, String, Long)].toDF("key_type", "key", "work_id")
    val out = resolved(locs, empty)
    assert(out.size === 6)
    assert(out.values.forall(_._2 == "minted"), out)
    // same key, same id; five distinct keys, ids floor+1 … floor+5
    assert(out("l0") === out("l1"))
    assert(out.values.map(_._1).toSet ===
      (1L to 5L).map(_ + graft.core.IdMinter.DefaultFloor).toSet)
  }

  test("WorkIdResolver: a title_author key with 4 candidate ids adopts nothing") {
    val three = "a title shared by three candidate works|lee"
    val four = "a title shared by four candidate works|kim"
    val locs = locations((null, null, three), (null, null, four))
    val idMap = ((1 to 3).map(i => ("title_author", three, 100L + i)) ++
      (1 to 4).map(i => ("title_author", four, 200L + i)))
      .toDF("key_type", "key", "work_id")
    val out = resolved(locs, idMap)
    assert(out("l0") === ((101L, "title_author")))
    assert(out("l1")._2 === "minted" &&
      out("l1")._1 > graft.core.IdMinter.DefaultFloor)
  }

  test("WorkIdResolver.resolve: the landed key map and minted ids broadcast, " +
    "the locations never shuffle") {
    val locs = locations(("10.1/a", null, null), (null, "pm9", null))
    val idMap = Seq(("doi", "10.1/a", 7L)).toDF("key_type", "key", "work_id")
    val out = WorkIdResolver.resolve(locs, idMap)
    val plan = out.queryExecution.executedPlan.toString
    assert(hashExchanges(out).isEmpty, plan)
    assert(!plan.contains("SortMergeJoin") && plan.contains("BroadcastHashJoin"), plan)
    assert(out.select("work_id_source").as[String].collect().sorted.toSeq ===
      Seq("doi", "minted"))
  }

  test("Authorships.assemble: one exchange, on work_id") {
    val matched = Seq((1L, 0, 101L, "Jo Smith", true, Seq("I1")))
      .toDF("work_id", "author_seq", "author_id", "raw_name", "is_corresponding",
        "institution_ids")
    val insts = Seq(("I1", "MIT", "US", Seq("I1")))
      .toDF("institution_id", "display_name", "country_code", "lineage")
    val out = Authorships.assemble(matched, insts)
    assert(hashExchanges(out) === Seq(Seq("work_id")),
      out.queryExecution.executedPlan.toString)
  }

  test("WorkAuthorGuard.updateBatch: the distinct and the per-seat " +
    "aggregate share one exchange on work_id") {
    val au = "struct<raw_author_name:string,raw_affiliation_strings:array<string>," +
      "is_corresponding:boolean>"
    val worksBase = Seq((1L, "2024-02-01", "Ann Park", Seq("Aff 1", "Aff 2")))
      .toDF("id", "updated_date", "name", "strs")
      .select(col("id"), col("updated_date").cast("timestamp").as("updated_date"),
        array(struct(col("name").as("raw_author_name"),
          col("strs").as("raw_affiliation_strings"),
          lit(true).as("is_corresponding")).cast(au)).as("authorships"))
    val workAuthors = Seq((1L, 0, Seq("Aff 1")))
      .toDF("work_id", "author_sequence", "raw_affiliation_strings")
    val out = WorkAuthorGuard.updateBatch(worksBase, workAuthors,
      lit("2024-01-15").cast("timestamp"))
    val ex = hashExchanges(out)
    val plan = out.queryExecution.executedPlan.toString
    // the chain's one exchange; the other work_id exchange is the
    // drifted-work distinct of stringDrift
    assert(ex.forall(_ == Seq("work_id")), plan)
    assert(ex.size === 2, plan)
    assert(out.count() === 1)
  }

  test("AuthorMatcher.matchAuthors: the two-level tier aggregate shuffles " +
    "once, on (work_id, author_seq)") {
    val candidates = Seq((1002L, "smith;j", null.asInstanceOf[String], Seq("I2"), Seq(20L)))
      .toDF("author_id", "block_key", "orcid", "institution_ids", "source_ids")
    val incoming = Seq((2L, 1, "smith;j", null.asInstanceOf[String], Seq("I2"), 0L))
      .toDF("work_id", "author_seq", "block_key", "orcid", "institution_ids", "source_id")
    val out = AuthorMatcher.matchAuthors(incoming, candidates)
    val ex = hashExchanges(out)
    val plan = out.queryExecution.executedPlan.toString
    // the tier result feeds three consumers, so the initial plan holds
    // one copy of the chain per consumer: one level-2 final aggregate
    // and one exchange per copy, none keyed on level 1's author_id
    val copies = collect(out.queryExecution.executedPlan) {
      case a: HashAggregateExec if a.groupingExpressions.map(_.toAttribute.name) ==
          Seq("work_id", "author_seq") &&
          a.aggregateExpressions.forall(_.mode == Final) => a
    }.size
    assert(copies >= 1, plan)
    assert(ex === Seq.fill(copies)(Seq("work_id", "author_seq")), plan)
    assert(out.select("match_tier").as[String].collect().toSeq === Seq("name_institution"))
  }

  test("ExplainAudit single-partition screen: global windows funnel, " +
    "global aggregates and limits do not") {
    import org.apache.spark.sql.expressions.Window
    def funnels(df: DataFrame) =
      ExplainAudit.singlePartitionFunnels(df.queryExecution.executedPlan)
    val rows = spark.range(0, 1000, 1, 4).toDF("id")
    assert(funnels(rows.withColumn("rn",
      row_number().over(Window.orderBy(col("id"))))).nonEmpty)
    assert(funnels(rows.agg(count(lit(1)), sum(col("id")))).isEmpty)
    assert(funnels(rows.filter(col("id") > 3).limit(5)).isEmpty)
    assert(funnels(rows.groupBy(col("id") % 7).count()).isEmpty)
  }
}
