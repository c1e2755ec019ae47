package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates the plan audit: every check of [[ExplainAudit.run]] passes
  * over the smallest fixture, in the audit's own session shape
  * (`local[4]`, 4 shuffle partitions, as [[TestSpark]] builds it), and
  * the run makes exactly [[ExplainAudit.ExpectedChecks]] checks. */
class ExplainAuditSpec extends AnyFunSuite {

  test("ExplainAudit: every plan check passes, and the check count is pinned") {
    val spark = TestSpark.spark
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val result = ExplainAudit.run(spark, TestSpark.sfDir)
    assert(result.failures.isEmpty, result.failures.mkString("\n", "\n", ""))
    assert(result.checks == ExplainAudit.ExpectedChecks)
  }
}
