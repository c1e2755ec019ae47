package graft

import java.nio.file.{Files, Paths}

/** Dev tool: write the `.explain("formatted")` of every query
  * `SPARK_GRAFT_ONLY` selects (all by default) to
  * `<outDir>/<query><suffix>.txt` — the optimization-round evidence
  * files (plans/rNN/<query>_before.txt / _after.txt).
  *
  * Runs with the bench session ([[Session.local]] on SPARK_GRAFT_CPUS)
  * so the dumped plans are the ones the bench executes, not a
  * differently-configured twin.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("plans/r17")
    val suffix = args.lift(2).getOrElse("_before")
    val queries = Measure.selected()
    val spark = Session.local("graft-dump-plans", Session.cpus)
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      try {
        val s = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), s)
        println(s"[plans] wrote $name")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
