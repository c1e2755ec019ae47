package graft.serve

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The partitioned full-snapshot export layout (reference:
  * notebooks/snapshot/_utils.py — export_partitioned_all_formats):
  *
  *   {out}/jsonl/{entity}/updated_date=YYYY-MM-DD/part_NNNN.gz
  *   {out}/parquet/{entity}/updated_date=YYYY-MM-DD/part_NNNN.parquet
  *   {out}/_meta/{format}/{entity}.json      (per-file manifest)
  *   {out}/{format}/manifest.json            (update_meta.ipynb rollup)
  *
  * Scale posture: rows are partitioned by the updated/created date and
  * SALTED inside hot dates (the reference's tiered `abs(hash(id)) % m`
  * — a 100M-row date fans out over 1400 buckets) so a 500M-row works
  * export never funnels one date through one task; `maxRecordsPerFile`
  * bounds file sizes below that. The per-date count aggregation runs
  * ONCE and is broadcast to both format writers. Documented deviation:
  * salt uses pmod(hash, m) instead of abs(hash) % m — Java abs of
  * Int.MinValue is negative, pmod is total; the salt is dropped before
  * write so only the fan-out (identical) matters. The reference's S3
  * CopyObject rename loop is local filesystem moves here (transport
  * boundary, same layout contract).
  */
object SnapshotWriter {

  /** The partition key: updated date, falling back to created date,
    * then to today (the reference's _partition_date_col). */
  def partitionDate: Column = coalesce(
    to_date(col("updated_date")), to_date(col("created_date")),
    current_date())

  /** The salting fan-out for a date holding `n` records (the
    * reference's _apply_salting tiers; ≤800K rows stay unsalted). */
  def saltModulus(n: Column): Column =
    when(n > 100000000L, 1400)
      .when(n > 40000000L, 160)
      .when(n > 10000000L, 50)
      .when(n > 5000000L, 25)
      .when(n > 2000000L, 10)
      .when(n > 800000L, 3)
      .otherwise(1)

  /** Per-date record counts, computed once and shared by both format
    * writers (the reference collects to the driver and re-broadcasts;
    * we keep it a broadcast-joined frame — no driver round-trip). */
  def dateCounts(df: DataFrame): DataFrame =
    df.groupBy(partitionDate.as("_partition_date"))
      .agg(count(lit(1)).as("date_count"))

  /** Attach `_partition_date` + `salt` (hash-bucketed inside hot
    * dates, 0 when the date is below every tier). */
  def withSalt(df: DataFrame, counts: DataFrame): DataFrame =
    df.withColumn("_partition_date", partitionDate)
      .join(broadcast(counts), Seq("_partition_date"))
      .withColumn("salt", pmod(hash(col("id")), saltModulus(col("date_count"))))
      .drop("date_count")

  /** One exported file in the per-entity manifest. */
  final case class FileEntry(url: String, contentLength: Long,
      recordCount: Long)
  /** Per-entity per-format manifest (_meta/{fmt}/{entity}.json). */
  final case class EntityMeta(entity: String, format: String,
      recordCount: Long, contentLength: Long, files: Seq[FileEntry])

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def fileJson(f: FileEntry): String =
    s"""{"url":"${jsonEsc(f.url)}","meta":{"content_length":${f.contentLength},"record_count":${f.recordCount}}}"""

  /** Render the per-entity meta JSON (update_meta-compatible). */
  def metaJson(m: EntityMeta): String =
    s"""{"entity":"${jsonEsc(m.entity)}","format":"${jsonEsc(m.format)}",""" +
      s""""record_count":${m.recordCount},"content_length":${m.contentLength},""" +
      s""""files":[${m.files.map(fileJson).mkString(",")}]}"""

  /** The update_meta.ipynb combined per-format rollup. */
  def combinedManifestJson(date: String, fmt: String,
      metas: Seq[EntityMeta]): String = {
    val entities = metas.map(m =>
      s"""{"entity":"${jsonEsc(m.entity)}","record_count":${m.recordCount},""" +
        s""""content_length":${m.contentLength},""" +
        s""""files":[${m.files.map(fileJson).mkString(",")}]}""")
    s"""{"date":"${jsonEsc(date)}","format":"${jsonEsc(fmt)}",""" +
      s""""meta":{"record_count":${metas.map(_.recordCount).sum},""" +
      s""""content_length":${metas.map(_.contentLength).sum}},""" +
      s""""entities":[${entities.mkString(",")}]}"""
  }

  /** Rename Spark's `_partition_date=` dirs to `updated_date=` and
    * each part file to `part_NNNN.{targetExt}` in filename-sorted
    * order; drop _SUCCESS and per-partition metadata (the
    * reference's _rename_partitions). */
  private def renamePartitions(outDir: String, matchExt: String,
      targetExt: String): Unit = {
    val root = new File(outDir)
    val parts = Option(root.listFiles()).getOrElse(Array.empty)
    parts.filter(_.getName.startsWith("_partition_date=")).foreach { p =>
      val date = p.getName.stripPrefix("_partition_date=")
      val dest = new File(root, s"updated_date=$date")
      dest.mkdirs()
      val files = Option(p.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(s".$matchExt")).sortBy(_.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath,
          new File(dest, f"part_$i%04d.$targetExt").toPath,
          StandardCopyOption.REPLACE_EXISTING)
      }
      deleteRec(p)
    }
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("_") || f.getName.startsWith("."))
      .foreach(deleteRec)
  }

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }

  /** Walk `updated_date=*` and return (relativePath, size) sorted by
    * relative path. */
  private def enumerate(outDir: String, ext: String): Seq[(String, Long)] = {
    val root = new File(outDir)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("updated_date=")).toSeq
      .flatMap { p =>
        Option(p.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.endsWith(s".$ext"))
          .map(f => (s"${p.getName}/${f.getName}", f.length()))
      }.sortBy(_._1)
  }

  /** Rows per file of `files` (keyed by the last two path segments,
    * `updated_date=…/part_…`): each read partition tallies its own
    * files and the driver sums the small maps, so no file path is ever
    * shuffled. With no data column selected, a parquet read decodes
    * nothing but footers. */
  private def rowsPerFile(files: DataFrame): Map[String, Long] =
    files.select(input_file_name()).rdd
      .mapPartitions(rows => Iterator.single(rows.foldLeft(Map.empty[String, Long]) {
        (m, r) => val p = r.getString(0); m.updated(p, m.getOrElse(p, 0L) + 1L)
      }))
      .collect().iterator.flatten.toSeq
      .groupMapReduce(_._1.split("/").takeRight(2).mkString("/"))(_._2)(_ + _)

  /** One entity in one format: partition by date (salted inside hot
    * dates when `salt`), write through `write`, rename to the reference
    * layout, then count each file's rows by reading it back through
    * `read` and write the per-entity meta. */
  private def exportEntity(df: DataFrame, outBase: String, entity: String,
      format: String, writtenExt: String, ext: String, salt: Boolean,
      recordsPerFile: Int, counts: Option[DataFrame])(
      write: DataFrameWriter[Row] => String => Unit,
      read: String => DataFrame): EntityMeta = {
    val outDir = s"$outBase/$format/$entity"
    deleteRec(new File(outDir))
    val prepped =
      if (salt) withSalt(df, counts.getOrElse(dateCounts(df)))
        .repartition(col("_partition_date"), col("salt")).drop("salt")
      else df.withColumn("_partition_date", partitionDate).coalesce(1)
    write(prepped.write.mode("overwrite")
      .option("maxRecordsPerFile", recordsPerFile)
      .partitionBy("_partition_date"))(outDir)
    renamePartitions(outDir, writtenExt, ext)
    val files = enumerate(outDir, ext)
    val perFile =
      if (files.isEmpty) Map.empty[String, Long]
      else rowsPerFile(read(s"$outDir/updated_date=*"))
    val entries = files.map { case (rel, size) =>
      FileEntry(s"$outDir/$rel", size, perFile.getOrElse(rel, 0L))
    }
    val meta = EntityMeta(entity, format,
      entries.map(_.recordCount).sum, entries.map(_.contentLength).sum,
      entries)
    writeMeta(outBase, meta)
    meta
  }

  /** Gzip JSONL export for one entity. Returns the per-entity meta. */
  def exportJsonl(spark: SparkSession, df: DataFrame, outBase: String,
      entity: String, salt: Boolean = false,
      recordsPerFile: Int = 400000,
      counts: Option[DataFrame] = None): EntityMeta =
    exportEntity(df, outBase, entity, "jsonl", "gz", "gz", salt, recordsPerFile, counts)(
      w => w.option("compression", "gzip").option("ignoreNullFields", "false").json(_),
      spark.read.text(_))

  /** Snappy parquet export for one entity — same partition/salt shape;
    * INT64-micros timestamps (the reference pins outputTimestampType
    * so non-Spark readers can decode). */
  def exportParquet(spark: SparkSession, df: DataFrame, outBase: String,
      entity: String, salt: Boolean = false,
      recordsPerFile: Int = 400000,
      counts: Option[DataFrame] = None): EntityMeta = {
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    exportEntity(df, outBase, entity, "parquet", "snappy.parquet", "parquet", salt,
      recordsPerFile, counts)(
      w => w.option("compression", "snappy").parquet(_), spark.read.parquet(_))
  }

  private def writeMeta(outBase: String, m: EntityMeta): Unit = {
    val dir = Paths.get(outBase, "_meta", m.format)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"${m.entity}.json"),
      metaJson(m).getBytes(StandardCharsets.UTF_8))
  }

  /** Both formats for one entity, sharing one per-date count
    * aggregation (export_partitioned_all_formats). */
  def exportAllFormats(spark: SparkSession, df: DataFrame,
      outBase: String, entity: String, salt: Boolean = false,
      recordsPerFile: Int = 400000): (EntityMeta, EntityMeta) = {
    val shared = if (salt) Some(dateCounts(df)) else None
    (exportJsonl(spark, df, outBase, entity, salt, recordsPerFile, shared),
      exportParquet(spark, df, outBase, entity, salt, recordsPerFile, shared))
  }

  /** update_meta.ipynb: roll every entity's meta into one per-format
    * combined manifest at {out}/{fmt}/manifest.json (plus the
    * per-entity {out}/{fmt}/{entity}/manifest.json copies). */
  def writeCombinedManifest(outBase: String, date: String, fmt: String,
      metas: Seq[EntityMeta]): Unit = {
    metas.foreach { m =>
      val dir = Paths.get(outBase, fmt, m.entity)
      Files.createDirectories(dir)
      Files.write(dir.resolve("manifest.json"),
        metaJson(m).getBytes(StandardCharsets.UTF_8))
    }
    Files.write(Paths.get(outBase, fmt).resolve("manifest.json"),
      combinedManifestJson(date, fmt, metas)
        .getBytes(StandardCharsets.UTF_8))
  }
}
