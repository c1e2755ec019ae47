package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.serve.SnapshotWriter

/** Pins the partitioned snapshot export layout (_utils.py): the
  * updated_date= directory + part_NNNN file naming, maxRecordsPerFile
  * splitting, per-entity meta manifests with per-file record counts,
  * and the update_meta combined rollup. Salt tier SEMANTICS are
  * oracle-gated as q107 — here we exercise the salted write path
  * end-to-end at small scale. */
class SnapshotWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = Seq(
    (1L, "2024-01-01", "2023-06-15"), (2L, "2024-01-01", "2023-06-15"),
    (3L, "2024-01-01", "2023-06-15"), (4L, "2024-01-02", "2023-06-15"),
    (5L, null.asInstanceOf[String], "2023-06-15"))
    .toDF("id", "updated_date", "created_date")
    .select(col("id"), col("updated_date").cast("timestamp"),
      col("created_date").cast("timestamp"),
      concat(lit("doc "), col("id")).as("body"))

  /** Each file's record count, keyed `updated_date=…/part_NNNN.ext`. */
  private def perFile(m: SnapshotWriter.EntityMeta): Map[String, Long] =
    m.files.map(f => f.url.split("/").takeRight(2).mkString("/") -> f.recordCount).toMap

  private def expectedPerFile(ext: String): Map[String, Long] = Map(
    s"updated_date=2023-06-15/part_0000.$ext" -> 1L,
    s"updated_date=2024-01-01/part_0000.$ext" -> 2L,
    s"updated_date=2024-01-01/part_0001.$ext" -> 1L,
    s"updated_date=2024-01-02/part_0000.$ext" -> 1L)

  test("jsonl export: layout, part naming, per-file counts, meta") {
    val out = Files.createTempDirectory("graft-snap").toString
    val meta = SnapshotWriter.exportJsonl(spark, fixture, out, "works",
      salt = false, recordsPerFile = 2)
    val dirs = new File(s"$out/jsonl/works").listFiles().map(_.getName).sorted
    assert(dirs.toSeq === Seq("updated_date=2023-06-15",
      "updated_date=2024-01-01", "updated_date=2024-01-02"))
    val hot = new File(s"$out/jsonl/works/updated_date=2024-01-01")
      .listFiles().map(_.getName).sorted
    // 3 records at maxRecordsPerFile=2 → part_0000 + part_0001
    assert(hot.toSeq === Seq("part_0000.gz", "part_0001.gz"))
    assert(meta.entity === "works" && meta.format === "jsonl")
    assert(meta.recordCount === 5)
    assert(meta.files.map(_.recordCount).sum === 5)
    assert(perFile(meta) === expectedPerFile("gz"))
    assert(meta.files.forall(_.contentLength > 0))
    // meta JSON written and update_meta-parseable
    val metaFile = s"$out/_meta/jsonl/works.json"
    val js = new String(Files.readAllBytes(new File(metaFile).toPath))
    assert(js.contains("\"record_count\":5") &&
      js.contains("\"entity\":\"works\""))
    // round-trip: the written JSONL holds every row
    val back = spark.read.json(s"$out/jsonl/works/updated_date=*")
    assert(back.count() === 5)
    assert(back.select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("parquet export: footer counts and layout match jsonl") {
    val out = Files.createTempDirectory("graft-snap").toString
    val (j, p) = SnapshotWriter.exportAllFormats(spark, fixture, out,
      "works", salt = true, recordsPerFile = 2)
    assert(j.recordCount === 5 && p.recordCount === 5)
    assert(perFile(j) === expectedPerFile("gz"))
    assert(perFile(p) === expectedPerFile("parquet"))
    val pf = new File(s"$out/parquet/works/updated_date=2024-01-01")
      .listFiles().map(_.getName)
    assert(pf.forall(n => n.startsWith("part_") && n.endsWith(".parquet")))
    assert(spark.read.parquet(s"$out/parquet/works/updated_date=*")
      .count() === 5)
    // no Spark droppings survive the rename
    val leftovers = new File(s"$out/parquet/works").listFiles()
      .map(_.getName).filter(_.startsWith("_"))
    assert(leftovers.isEmpty)
  }

  test("combined manifest rolls entity metas with totals") {
    val out = Files.createTempDirectory("graft-snap").toString
    val m1 = SnapshotWriter.EntityMeta("works", "jsonl", 10, 100,
      Seq(SnapshotWriter.FileEntry("u1", 100, 10)))
    val m2 = SnapshotWriter.EntityMeta("authors", "jsonl", 4, 40,
      Seq(SnapshotWriter.FileEntry("u2", 40, 4)))
    SnapshotWriter.writeCombinedManifest(out, "2026-08-14", "jsonl",
      Seq(m1, m2))
    val js = new String(Files.readAllBytes(
      new File(s"$out/jsonl/manifest.json").toPath))
    assert(js.contains("\"record_count\":14") &&
      js.contains("\"content_length\":140") &&
      js.contains("\"date\":\"2026-08-14\""))
    assert(new File(s"$out/jsonl/works/manifest.json").exists())
    assert(new File(s"$out/jsonl/authors/manifest.json").exists())
  }
}
