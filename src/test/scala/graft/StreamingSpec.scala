package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Scd1Upsert, Tables}
import graft.streaming.Streams

/** Stream ≡ batch parity on the events fixture: the reference's
  * streaming semantics sequence by a data column (SURVEY §2.10), so a
  * streaming application over the same rows must produce exactly the
  * batch answer. */
@org.scalatest.tags.Slow
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** events staged into a streaming-source dir via Tables, so `ts` is
    * epoch-nanos LongType regardless of the fixture's timestamp
    * precision (the readEvents streaming contract). */
  private lazy val streamDir: String = {
    val d = Files.createTempDirectory("graft-events").toString
    Tables(spark, sfDir, "events").coalesce(1).write
      .mode("overwrite").parquet(d)
    d
  }

  test("streaming XML file source: rowTag + rescue + path id, multi-batch, equals batch") {
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("graft-xml")
    val endpoint = root.resolve("pmh-ep1"); Files.createDirectories(endpoint)
    def write(name: String, body: String): Unit =
      Files.write(endpoint.resolve(name), body.getBytes("UTF-8"))
    write("batch1.xml",
      """<records>
        |<record><header><identifier>oai:1</identifier><datestamp>2024-01-01</datestamp></header><metadata><title>T1</title><n>1</n></metadata></record>
        |<record><header><identifier>oai:2</identifier><datestamp>2024-01-02</datestamp></header><metadata><title>T2</title><n>2</n></metadata></record>
        |</records>""".stripMargin)
    write("batch2.xml",
      """<records>
        |<record><header><identifier>oai:3</identifier><datestamp>2024-01-03</datestamp></header><metadata><title>T3</title><n>not-a-number</n></metadata></record>
        |<record><header><identifier>oai:4</identifier><datestamp>2024-01-04</datestamp></header><metadata><title>T4</title><n>4</n></metadata></record>
        |</records>""".stripMargin)
    val schema = StructType(Seq(
      StructField("header", StructType(Seq(
        StructField("identifier", StringType), StructField("datestamp", StringType)))),
      StructField("metadata", StructType(Seq(
        StructField("title", StringType), StructField("n", IntegerType))))))
    val q = Streams.readXml(spark, root.toString + "/*", "record", schema,
        maxFilesPerTrigger = Some(1))
      .select(col("header.identifier").as("id"), col("metadata.title").as("title"),
        col("metadata.n").as("n"), col("_rescued_data"), col("endpoint_id"))
      .writeStream.format("memory").queryName("xmlstream").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.sql("SELECT * FROM xmlstream").collect()
      .map(r => r.getString(0) -> ((r.getString(1), Option(r.get(2)),
        r.getString(3) != null, r.getString(4)))).toMap
    assert(out.size == 4)
    assert(out("oai:1") == (("T1", Some(1), false, "pmh-ep1")))
    // bad typed field → row rescued (PERMISSIVE), others parse clean
    assert(out("oai:3")._3, "malformed record must land in _rescued_data")
    assert(out("oai:4") == (("T4", Some(4), false, "pmh-ep1")))
    // batch twin parity
    val b = Streams.readXmlBatch(spark, root.toString + "/*", "record", schema)
      .select(col("header.identifier").as("id"), col("metadata.title"))
      .collect().map(_.getString(0)).sorted
    assert(b.toSeq == Seq("oai:1", "oai:2", "oai:3", "oai:4"))
  }

  test("hourly windows: streaming equals batch") {
    val q = Streams.hourlyWindows(Streams.readEvents(spark, streamDir))
      .writeStream.format("memory").queryName("hw").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hw").as[(String, String, Long)].collect().toSet
    val batch = Tables(spark, sfDir, "events")
      .withColumn("tsm", expr("timestamp_micros(ts div 1000)"))
      .groupBy(window(col("tsm"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("sessionize (flatMapGroupsWithState): streaming equals batch q25") {
    val ev = Streams.readEvents(spark, streamDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[Streams.RawEvent]
    val q = Streams.sessionize(ev, 6L * 3600 * 1000000000L)
      .writeStream.format("memory").queryName("sess").outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sess")
      .groupBy("user_id").agg(max("n_sessions").as("s"), max("max_session_events").as("m"))
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.SparkEntry.queries("q25_sessionize_users")(spark, sfDir)
      .select(col("user_id"), col("n_sessions"), col("max_session_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("sessionizeCollapsed: watermark prefix-collapse equals batch, state bounded") {
    // six time-ordered files => six micro-batches; the watermark advances
    // between batches, so earlier batches' events collapse out of state
    val d = Files.createTempDirectory("graft-events-split").toString
    val ev = Tables(spark, sfDir, "events").orderBy("ts").collect()
    val n = ev.length
    val src = spark.readStream.schema(Tables.eventsSchema)
      .option("recursiveFileLookup", "true").parquet(d)
    val q = Streams.sessionizeCollapsed(src, 6L * 3600 * 1000000000L, "1 hour")
      .writeStream.format("memory").queryName("sessc").outputMode("update").start()
    // land each time-slice as its own file BETWEEN drains: ≥6 micro-batches,
    // so the watermark advances and earlier slices collapse out of state
    val schema = Tables(spark, sfDir, "events").schema
    (0 until 6).foreach { i =>
      val slice = ev.slice(i * n / 6, (i + 1) * n / 6)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(slice.toIndexedSeq, 1), schema)
      df.coalesce(1).write.parquet(s"$d/part-$i")
      q.processAllAvailable()
    }
    // sentinel far-future event: pushes the watermark past every real
    // user's last event + gap, so each user's event-time timeout fires
    // and collapses their state to the four-long accumulator (open = 0)
    val maxTs = ev.map(_.getLong(1)).max
    val sentinel = org.apache.spark.sql.Row(999999L,
      maxTs + 30L * 24 * 3600 * 1000000000L, 999999L, "sentinel", 0.0, "{}")
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(sentinel), 1), schema)
      .write.parquet(s"$d/part-sentinel")
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessc").filter(col("user_id") =!= 999999L)
    val streamed = rows.groupBy("user_id")
      .agg(max("n_sessions").as("s"), max("max_session_events").as("m"))
      .as[(Long, Long, Long)].collect().toSet
    val batch = graft.SparkEntry.queries("q25_sessionize_users")(spark, sfDir)
      .select(col("user_id"), col("n_sessions"), col("max_session_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    // boundedness: once the watermark passes a user's last event + gap,
    // their timeout collapse must leave ZERO buffered state rows — every
    // real user reaches that floor (exact-replay mode never drops below
    // full history)
    val nUsers = batch.size
    val collapsed = rows.filter(col("buffered") === 0)
      .select("user_id").distinct().count()
    assert(collapsed == nUsers, s"only $collapsed of $nUsers users fully collapsed")
  }

  test("scd1 foreachBatch: stream state equals batch latest, replay idempotent") {
    var state: Option[DataFrame] = None
    def run(): Unit = Streams.scd1Sink(Streams.readEvents(spark, streamDir),
      () => state, next => state = Some(next.cache()))
    run()
    val batch = Scd1Upsert.latest(Tables(spark, sfDir, "events"),
        Seq("user_id"), col("ts"), Seq(col("event_id")),
        deleteWhen = Some(col("event_type") === "error"))
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    val afterOne = Scd1Upsert.current(state.get).select("user_id", "event_id")
      .as[(Long, Long)].collect().toSet
    assert(afterOne == batch)
    run() // replay the same data on top of existing state
    val afterTwo = Scd1Upsert.current(state.get).select("user_id", "event_id")
      .as[(Long, Long)].collect().toSet
    assert(afterTwo == batch)
  }

  test("streaming hash split equals batch: curation labels assigned " +
    "at ingestion never move") {
    // hashSplit is a pure projection, so it runs unchanged over a
    // stream — each micro-batch labels its own rows and the labels
    // equal the batch assignment row-for-row
    import graft.operators.Sampling
    val src = spark.readStream.schema(Tables.eventsSchema)
      .parquet(streamDir)
      .select(col("event_id").as("id"))
    val q = Sampling.hashSplit(src, "id", "seedZ", 80, 10)
      .writeStream.format("memory").queryName("splitstream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("splitstream")
      .select("id", "split").as[(Long, String)].collect().toSet
    val batch = Sampling.hashSplit(
        Tables(spark, sfDir, "events").select(col("event_id").as("id")),
        "id", "seedZ", 80, 10)
      .select("id", "split").as[(Long, String)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("incrementalDedup: first-seen wins across micro-batches, " +
    "re-arrivals suppressed, equals batch min-id election") {
    import graft.streaming.Streams.FpDoc
    import org.apache.spark.sql.types._
    val d = Files.createTempDirectory("graft-fpdocs").toString
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("fp", LongType)))
    val src = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(d).as[FpDoc]
    val q = Streams.incrementalDedup(src)
      .writeStream.format("memory").queryName("fpdedup")
      .outputMode("append").start()
    // batch 1: ids 1..100, fp = id % 37 → within-batch duplicates
    // (min id owns); batch 2: ids 101..160, every fp already seen →
    // fully suppressed; batch 3: ids 161..170 with NEW fps 1000+id
    def land(part: String, rows: Seq[(Long, Long)]): Unit = {
      rows.toDF("doc_id", "fp").coalesce(1).write.parquet(s"$d/$part")
      q.processAllAvailable()
    }
    val b1 = (1L to 100L).map(i => (i, i % 37))
    val b2 = (101L to 160L).map(i => (i, i % 37))
    val b3 = (161L to 170L).map(i => (i, 1000L + i))
    land("part-1", b1); land("part-2", b2); land("part-3", b3)
    q.stop()
    val streamed = spark.table("fpdedup")
      .select("doc_id", "fp").as[(Long, Long)].collect().toSet
    // batch twin: min doc_id per fingerprint over the whole corpus
    // (arrival respected id order, so first-seen == min-id)
    val batch = (b1 ++ b2 ++ b3).toDF("doc_id", "fp")
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "fp").as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size === 37 + 10)
    // nothing from the fully-duplicate batch 2 leaked through
    assert(!streamed.exists { case (id, _) => id >= 101 && id <= 160 })
  }

  test("incrementalDedupExpiring: suppresses within the sliding " +
    "horizon, expires via event-time timeout, re-admits after") {
    import graft.streaming.Streams.FpDocT
    import org.apache.spark.sql.types._
    val d = Files.createTempDirectory("graft-fpdocs-exp").toString
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("fp", LongType), StructField("ts", LongType)))
    val src = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(d).as[FpDocT]
    val q = Streams.incrementalDedupExpiring(src, "1 hour", 3600000L)
      .writeStream.format("memory").queryName("fpexp")
      .outputMode("append").start()
    val t0 = 1700000000L * 1000000000L
    val m = 60L * 1000000000L
    def land(part: String, rows: Seq[(Long, Long, Long)]): Unit = {
      rows.toDF("doc_id", "fp", "ts").coalesce(1)
        .write.parquet(s"$d/$part")
      q.processAllAvailable()
    }
    // b1: fp 7 owned by doc 1; in-batch dup suppressed
    land("p1", Seq((1L, 7L, t0), (2L, 7L, t0 + 10 * m)))
    // b2: fp 7 within horizon (suppressed, refreshes expiry); fp 99
    // new; the t0+5h row pushes the watermark to t0+4h
    land("p2", Seq((3L, 7L, t0 + 30 * m), (4L, 99L, t0 + 300 * m)))
    // b3: no fp-7 data → its pending timeout (last seen t0+30m + 1h,
    // far behind the t0+4h watermark) fires and removes the state row
    land("p3", Seq((5L, 500L, t0 + 360 * m)))
    // b4: fp 7 re-arrives AFTER expiry → admitted as new
    land("p4", Seq((6L, 7L, t0 + 330 * m)))
    q.stop()
    val got = spark.table("fpexp").select("doc_id")
      .as[Long].collect().toSet
    assert(got == Set(1L, 4L, 5L, 6L))
  }

  test("streaming repetition screens + PII scrub equal batch " +
    "(stateless curation projections)") {
    import graft.operators.TextQuality
    def doc(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id").as("doc_id"),
        concat_ws(" ", col("event_type"), col("event_type"),
          col("event_type"), lit("filler words here contact"),
          concat(lit("u"), col("event_id"), lit("@ex.org")),
          lit("and ip 10.1.2.3 end")).as("text"))
    def run(df: org.apache.spark.sql.DataFrame) =
      TextQuality.piiScrub(
        TextQuality.repetitionScreens(doc(df), "text"), "text")
        .select(col("doc_id"), col("top_word_frac"), col("keep"),
          col("n_emails"), col("n_ips"), col("scrubbed"))
    val src = spark.readStream.schema(Tables.eventsSchema)
      .parquet(streamDir)
    val q = run(src).writeStream.format("memory").queryName("curstream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("curstream").collect()
      .map(_.toSeq).toSet
    val batch = run(Tables(spark, sfDir, "events")).collect()
      .map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // every doc carries exactly one planted email + one IP
    assert(spark.table("curstream")
      .filter(col("n_emails") === 1 && col("n_ips") === 1).count()
      === spark.table("curstream").count())
  }

  test("asofEnrich: streaming point-in-time enrichment equals the " +
    "batch as-of join under out-of-order replay within the watermark") {
    import graft.streaming.Streams.AsofEv
    import graft.operators.AsofJoin
    import org.apache.spark.sql.types._
    val evRows = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        coalesce(col("value"), lit(0.0)).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every 3rd event is a dimension update (right side), deduped to
    // unique (key, ts) by min event id — the operator contract
    val rightsU = evRows.filter(_._1 % 3 == 0)
      .groupBy(t => (t._3, t._2)).map(_._2.minBy(_._1)).toSeq
    val lefts = evRows.filter(_._1 % 3 != 0)
    // batch twin: union+window as-of join
    val leftDf = lefts.toSeq.map(t => (t._3, t._2, t._1))
      .toDF("key", "ts", "id")
    val rightDf = rightsU.map(t => (t._3, t._2, t._1, t._4))
      .toDF("key", "rts", "rid", "rv")
    val batch = AsofJoin.asofJoin(leftDf, rightDf, Seq("key"), "ts", "rts")
      .select(col("key"), col("ts"), col("id"),
        col("asof.rid"), col("asof.rv"))
      .as[(Long, Long, Long, Option[Long], Option[Double])]
      .collect().toSet
    // streaming replay: 6 time-sliced micro-batches with every 7th
    // row bumped one batch LATE (still inside the watermark delay)
    val tagged = (rightsU.map(t => AsofEv(t._3, t._2, 0, t._1, t._4)) ++
      lefts.map(t => AsofEv(t._3, t._2, 1, t._1, 0.0)))
      .sortBy(e => (e.ts, e.side, e.id))
    val span = tagged.last.ts - tagged.head.ts
    val delaySec = span / 4 / 1000000000L + 1
    val n = tagged.length
    val batches = Array.fill(7)(Seq.newBuilder[AsofEv])
    tagged.zipWithIndex.foreach { case (e, i) =>
      val b = i * 6 / n
      batches(if (e.id % 7 == 0) b + 1 else b) += e
    }
    val d = Files.createTempDirectory("graft-asof").toString
    val schema = StructType(Seq(StructField("key", LongType),
      StructField("ts", LongType), StructField("side", IntegerType),
      StructField("id", LongType), StructField("v", DoubleType)))
    val src = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(d).as[AsofEv]
    val q = Streams.asofEnrich(src, s"$delaySec seconds")
      .writeStream.format("memory").queryName("asofstream")
      .outputMode("append").start()
    batches.zipWithIndex.foreach { case (b, i) =>
      val rows = b.result()
      if (rows.nonEmpty) {
        rows.map(e => (e.key, e.ts, e.side, e.id, e.v))
          .toDF("key", "ts", "side", "id", "v")
          .coalesce(1).write.parquet(s"$d/part-$i")
        q.processAllAvailable()
      }
    }
    // two far-future sentinel dimension rows on an unused key: the
    // first advances the watermark past every real event, the second
    // fires the event-time timeouts that flush remaining lefts
    val maxTs = tagged.last.ts
    (0 to 1).foreach { i =>
      Seq((-1L, maxTs + (i + 2) * delaySec * 2000000000L, 0, -1L, 0.0))
        .toDF("key", "ts", "side", "id", "v")
        .coalesce(1).write.parquet(s"$d/part-sentinel-$i")
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("asofstream")
      .filter(col("key") =!= -1L)
      .select(col("key"), col("ts"), col("id"),
        col("matched_id"), col("matched_v"))
      .as[(Long, Long, Long, Option[Long], Option[Double])]
      .collect().toSet
    assert(streamed == batch && streamed.nonEmpty,
      s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("out-of-order micro-batches: hourly windows, sessionize and scd1 " +
    "converge to batch") {
    // three files split by event id, one per micro-batch: every batch
    // spans the whole time range, so later batches fill gaps in the
    // state the earlier ones built
    val d = Files.createTempDirectory("graft-events-ooo").toString
    val ev = Tables(spark, sfDir, "events")
    (0 until 3).foreach(i => ev.filter(pmod(col("event_id"), lit(3)) === i)
      .coalesce(1).write.mode("append").parquet(d))
    def events(): DataFrame = Streams.readEvents(spark, d, Some(1))

    val hw = Streams.hourlyWindows(events()).writeStream.format("memory")
      .queryName("hw_ooo").outputMode("complete").start()
    hw.processAllAvailable(); hw.stop()
    val batchHw = ev.withColumn("tsm", expr("timestamp_micros(ts div 1000)"))
      .groupBy(window(col("tsm"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    assert(spark.table("hw_ooo").as[(String, String, Long)].collect().toSet == batchHw)

    // a batch can overcount a user's sessions until a later batch fills
    // the gap between them, so each user's LAST emission is compared
    val last = scala.collection.mutable.Map[Long, (Long, Long)]()
    val sess = Streams.sessionize(
        events().selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[Streams.RawEvent], 6L * 3600 * 1000000000L)
      .writeStream.outputMode("update").foreachBatch {
        (b: org.apache.spark.sql.Dataset[Streams.SessOut], _: Long) =>
          b.collect().foreach(r =>
            last(r.user_id) = (r.n_sessions, r.max_session_events))
      }.start()
    sess.processAllAvailable(); sess.stop()
    val batchSess = graft.SparkEntry.queries("q25_sessionize_users")(spark, sfDir)
      .select(col("user_id"), col("n_sessions"), col("max_session_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(last.map { case (u, (n, m)) => (u, n, m) }.toSet == batchSess)

    val states = scala.collection.mutable.ArrayBuffer[DataFrame]()
    Streams.scd1Sink(events(), () => states.lastOption, next => states += next.cache())
    assert(states.size == 3)
    val batchScd = Scd1Upsert.latest(ev, Seq("user_id"), col("ts"),
        Seq(col("event_id")), deleteWhen = Some(col("event_type") === "error"))
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(Scd1Upsert.current(states.last).select("user_id", "event_id")
      .as[(Long, Long)].collect().toSet == batchScd)
    states.foreach(_.unpersist())
  }
}
