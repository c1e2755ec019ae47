package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[MergeInto.run]] against its full-outer spec
  * ([[MergeIntoFullOuter]]) on seeded random targets and sources: every
  * clause set, single- and multi-column null-safe keys, empty sides and
  * all-null target rows. Rows are compared with multiplicity. */
class MergeIntoParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("k1", LongType), StructField("k2", StringType),
    StructField("v", StringType), StructField("x", LongType)))

  /** Small key domains with nulls, so matches, misses and null-safe
    * matches all occur. */
  private def rows(rnd: scala.util.Random, n: Int): Seq[Row] =
    Seq.fill(n) {
      def opt[A](a: => A): Any = if (rnd.nextInt(5) == 0) null else a
      Row(opt(rnd.nextInt(6).toLong), opt(s"s${rnd.nextInt(3)}"),
        opt(s"v${rnd.nextInt(4)}"), opt(rnd.nextInt(8).toLong))
    }

  private def frame(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)

  private val clauseSets: Seq[(String, MergeInto => MergeInto)] = Seq(
    "update only" -> (_.whenMatchedUpdate(Map(
      "v" -> col("__src.v"), "x" -> (col("__tgt.x") + col("__src.x"))),
      col("__src.x") > 2)),
    "update + matched delete" -> (_.whenMatchedDelete(col("__src.v") === "v0")
      .whenMatchedUpdate(Map("v" -> col("__src.v")))),
    "by-source delete only" -> (_.whenNotMatchedBySourceDelete(col("__tgt.x") < 5)),
    "update + insert" -> (_.whenMatchedUpdate(Map("v" -> col("__src.v")))
      .whenNotMatchedInsert(col("__src.x") =!= 1)),
    "insert + by-source delete" -> (_.whenNotMatchedInsertValues(
      Map("v" -> lit("new"), "x" -> col("__src.x")))
      .whenNotMatchedBySourceDelete()))

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().toSeq.map(_.toString).groupBy(identity).map { case (k, v) => k -> v.size }

  private def assertParity(label: String, target: DataFrame, source: DataFrame,
      keys: Seq[String]): Unit =
    clauseSets.foreach { case (name, clauses) =>
      val got = clauses(new MergeInto(target, source, keys)).run()
      val want = MergeIntoFullOuter.run(clauses(new MergeInto(target, source, keys)))
      assert(got.schema === want.schema, s"$label / $name: schema")
      assert(multiset(got) === multiset(want), s"$label / $name: rows")
    }

  test("seeded random targets and sources, single and multi-column keys") {
    for (seed <- Seq(11, 12, 13); keys <- Seq(Seq("k1"), Seq("k1", "k2"))) {
      val rnd = new scala.util.Random(seed)
      val target = frame(rows(rnd, 24))
      // the source is unique per key, as MERGE requires
      val source = frame(rows(rnd, 16)).dropDuplicates(keys)
      assertParity(s"seed $seed keys ${keys.mkString(",")}", target, source, keys)
    }
  }

  test("empty source, empty target, all-null target rows") {
    val rnd = new scala.util.Random(21)
    val some = frame(rows(rnd, 12)).dropDuplicates("k1", "k2")
    val empty = frame(Nil)
    val allNull = frame(Seq.fill(3)(Row(null, null, null, null)) ++ rows(rnd, 4))
    val nullSource = frame(Seq(Row(null, null, "vs", 3L), Row(1L, null, "v0", 4L)))
    val keys = Seq("k1", "k2")
    assertParity("empty source", some, empty, keys)
    assertParity("empty target", empty, some, keys)
    assertParity("all-null target rows", allNull, nullSource, keys)
  }

  test("the join is left outer unless an insert clause is registered") {
    val rnd = new scala.util.Random(31)
    val target = frame(rows(rnd, 8))
    val source = frame(rows(rnd, 8)).dropDuplicates("k1")
    clauseSets.foreach { case (name, clauses) =>
      val plan = clauses(MergeInto(target, source, "k1")).run()
        .queryExecution.executedPlan.toString
      val inserts = name.contains("insert")
      assert(plan.contains("FullOuter") === inserts, s"$name:\n$plan")
      assert(plan.contains("LeftOuter") === !inserts, s"$name:\n$plan")
    }
  }
}
