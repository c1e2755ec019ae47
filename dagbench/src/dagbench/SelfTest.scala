package dagbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions._

/** The benchmark's own tests: generator determinism, planted counts at
  * a tiny size on every workload, span self-time arithmetic and metric
  * names. Prints one line per test; exit 1 on any failure.
  *
  *   python3 dagbench/run.py --self-test
  */
object SelfTest {
  private val failures = ArrayBuffer[String]()
  private def test(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => e.printStackTrace(); false }
    println(s"[self-test] ${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  def main(args: Array[String]): Unit = {
    // span arithmetic (ns intervals)
    test("self time: disjoint children") {
      Intervals.selfTime((0, 100), Seq((10, 20), (30, 50))) == 70
    }
    test("self time: overlapping children count once") {
      Intervals.selfTime((0, 100), Seq((10, 40), (30, 60), (55, 70))) == 40
    }
    test("self time: children clipped to the span") {
      Intervals.selfTime((10, 20), Seq((0, 15), (18, 30))) == 3
    }
    test("self time: no children") { Intervals.selfTime((5, 9), Nil) == 4 }
    test("covered: nested and touching intervals") {
      Intervals.covered(0, 100, Seq((0, 50), (10, 20), (50, 60))) == 60
    }

    // metric names: the contract's character set, and BENCHMARK.json
    // lists exactly what the run reports
    val names = Main.endToEnd.map(_._1) ++ Main.perLayer.map(_._1)
    test("metric names match [A-Za-z0-9_.-]+ and are unique") {
      names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")) &&
        names.distinct.size == names.size
    }
    val bench = Paths.get("BENCHMARK.json")
    test("BENCHMARK.json names every reported metric") {
      val text = new String(Files.readAllBytes(bench), "UTF-8")
      val listed = "\"name\": \"([^\"]+)\"".r.findAllMatchIn(text).map(_.group(1)).toSet
      names.toSet.subsetOf(listed) &&
        listed -- Main.workloads.keySet == names.toSet
    }

    val work = Files.createTempDirectory("dagbench-selftest").toString
    val spark = Main.session(2, work)
    try {
      val sz = Sizes(works = 300, persons = 120, clusters = 2, docs = 400)
      def worksDigest(seed: Long) = Checks.digest(new Gen(spark, seed, sz).works(0, sz.works))
      def docsDigest(seed: Long) = Checks.digest(new Gen(spark, seed, sz).documents())
      test("generator: same seed, same works") { worksDigest(5) == worksDigest(5) }
      test("generator: another seed, other works") { worksDigest(5) != worksDigest(6) }
      test("generator: same seed, same documents") { docsDigest(5) == docsDigest(5) }
      test("generator: another seed, other documents") { docsDigest(5) != docsDigest(6) }
      test("generator: collision clusters exceed the three-candidate cap") {
        val ws = new Gen(spark, 5, sz).works(0, sz.works)
        ws.groupBy(col("title")).count().filter(col("count") === 5).count() == sz.clusters
      }

      // every workload at a tiny size: all planted counts hold
      Seq("nightly-full" -> 0.05, "curation" -> 0.1).foreach {
        case (name, scale) =>
          val w = Main.workloads(name)
          val s = Sizes((w.sizes.works * scale).toLong, (w.sizes.persons * scale).toLong,
            (w.sizes.clusters * scale).toLong max 1, (w.sizes.docs * scale).toLong)
          val corpus = w.setup(spark, new Gen(spark, 11, s), s, s"$work/$name")
          val r = w.check(w.dag(new Ctx(spark, new Tracer(spark.sparkContext, false),
            s"$work/$name-run"), corpus), corpus.truth)
          r.checks.filterNot(_.passed).foreach(c =>
            println(s"[self-test]      $name: ${c.name}: ${c.detail}"))
          test(s"$name: planted counts hold at a tiny size (${r.checks.size} checks)") {
            r.checks.nonEmpty && r.checks.forall(_.passed)
          }
      }
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
    println(s"[self-test] ${if (failures.isEmpty) "all passed" else s"${failures.size} failed"}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
