package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{AlignSchema, IdMinter, Materialize, MergeInto, Scd1Upsert}
import graft.operators.Survivorship

class CoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Materialize: upstream computed ONCE across two consumers, zero pinned storage") {
    val acc = spark.sparkContext.longAccumulator("upstream-evals")
    val tick = udf((x: Long) => { acc.add(1); x })
    val upstream = spark.range(0, 1000).select(tick(col("id")).as("id"))
    val (mat, dir) = Materialize.temp(upstream)
    // two consumers — without the boundary each would re-run the scan
    // (and the udf), doubling the accumulator
    assert(mat.filter(col("id") % 2 === 0).count() == 500)
    assert(mat.filter(col("id") % 3 === 0).count() == 334)
    assert(acc.value == 1000, s"upstream ran ${acc.value / 1000.0}x, want exactly 1x")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(new java.io.File(dir).exists())
  }

  test("MergeInto: update / conditional delete / insert") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val source = Seq((2L, "B"), (3L, "DEL"), (4L, "d")).toDF("k", "v")
    val out = MergeInto(target, source, "k")
      .whenMatchedDelete(col("__src.v") === "DEL")
      .whenMatchedUpdate(Map("v" -> col("__src.v")))
      .whenNotMatchedInsert()
      .run()
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "B"), (4L, "d")))
  }

  test("MergeInto: not-matched-by-source delete + null-safe keys") {
    val target = Seq((Some(1L), "a"), (None, "nul"), (Some(3L), "c"))
      .toDF("k", "v")
    val source = Seq((Option.empty[Long], "NUL2")).toDF("k", "v")
    val out = MergeInto(target, source, "k")
      .whenMatchedUpdate(Map("v" -> col("__src.v")))
      .whenNotMatchedBySourceDelete()
      .run().select("v").as[String].collect().toSet
    // null key matches null-safely; non-matched target rows deleted
    assert(out == Set("NUL2"))
  }

  test("MergeInto: dedupSourceBy keeps highest-sequence source row") {
    val target = Seq((1L, "a", 0L)).toDF("k", "v", "seq")
    val source = Seq((1L, "old", 1L), (1L, "new", 2L)).toDF("k", "v", "seq")
    val out = MergeInto(target, source, "k")
      .dedupSourceBy(col("seq").desc)
      .whenMatchedUpdate(Map("v" -> col("__src.v"), "seq" -> col("__src.seq")))
      .run().select("v").as[String].collect().toSeq
    assert(out == Seq("new"))
  }

  test("Scd1Upsert.apply: last-writer-wins with delete propagation") {
    val state = Seq((1L, "x", 10L), (2L, "y", 10L)).toDF("k", "v", "seq")
    val changes = Seq((1L, "x2", 20L), (2L, "DEAD", 20L), (3L, "z", 5L))
      .toDF("k", "v", "seq")
    val out = Scd1Upsert.apply(state, changes, Seq("k"), col("seq"),
      deleteWhen = Some(col("v") === "DEAD"))
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "x2"), (3L, "z")))
  }

  test("Scd1Upsert.apply: stale change loses to newer state") {
    val state = Seq((1L, "new", 30L)).toDF("k", "v", "seq")
    val changes = Seq((1L, "stale", 20L)).toDF("k", "v", "seq")
    val out = Scd1Upsert.apply(state, changes, Seq("k"), col("seq"))
      .select("v").as[String].collect().toSeq
    assert(out == Seq("new"))
  }

  test("AlignSchema: pad missing, cast, recurse into struct and array<struct>") {
    val src = Seq((1, "n", Seq(("x", 2)))).toDF("id", "name", "tags")
      .withColumn("tags", transform(col("tags"),
        x => struct(x.getField("_1").as("t"), x.getField("_2").as("w"))))
    val target = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("missing", DoubleType),
      StructField("tags", ArrayType(StructType(Seq(
        StructField("t", StringType),
        StructField("w", LongType),
        StructField("extra", StringType)))))))
    val out = AlignSchema(src, target)
    assert(out.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq ==
      target.fields.map(f => (f.name, f.dataType.catalogString)).toSeq)
    val row = out.collect()(0)
    assert(row.getLong(0) == 1L && row.isNullAt(2))
    val tag = row.getSeq[org.apache.spark.sql.Row](3).head
    assert(tag.getString(0) == "x" && tag.getLong(1) == 2L && tag.isNullAt(2))
  }

  test("withColumnAt: pins position for new and replaced columns") {
    val df = Seq((1, "a", true)).toDF("id", "name", "flag")
    // new column inserted in the middle
    val ins = AlignSchema.withColumnAt(df, 1, "score", lit(0.5))
    assert(ins.columns.toSeq == Seq("id", "score", "name", "flag"))
    // replacing an existing column moves it to the index
    val moved = AlignSchema.withColumnAt(df, 0, "flag", lit(false))
    assert(moved.columns.toSeq == Seq("flag", "id", "name"))
    assert(!moved.collect()(0).getBoolean(0))
    intercept[IllegalArgumentException] {
      AlignSchema.withColumnAt(df, 9, "x", lit(1))
    }
    // replacing an existing column at index == ncols is accepted
    // (index validates against the PRE-removal width, like the
    // reference) and appends
    val appended = AlignSchema.withColumnAt(df, 3, "flag", lit(false))
    assert(appended.columns.toSeq == Seq("id", "name", "flag"))
  }

  test("IdMinter: deterministic, collision-free, above floor and max") {
    val existing = Seq(("a", 6600000005L), ("b", 6600000001L)).toDF("key", "id")
    val newKeys = Seq("d", "c", "e").toDF("key")
    val m1 = IdMinter.mint(existing, newKeys, "key", "id").as[(String, Long)]
      .collect().toMap
    val m2 = IdMinter.mint(existing, newKeys, "key", "id").as[(String, Long)]
      .collect().toMap
    assert(m1 == m2)                              // rerun-stable
    assert(m1 == Map("c" -> 6600000006L, "d" -> 6600000007L, "e" -> 6600000008L))
  }

  test("Survivorship.highestPriorityValue folds to min-priority non-null") {
    val df = Seq(1).toDF("x").select(
      Survivorship.highestPriorityValue(expr(
        "array(named_struct('value', cast(null as string), 'priority', 0)," +
          "named_struct('value', 'low', 'priority', 9)," +
          "named_struct('value', 'best', 'priority', 1))")).as("v"))
    assert(df.as[String].collect().toSeq == Seq("best"))
  }

  test("MergeInto: first-clause-wins ordering (Delta semantics)") {
    import org.apache.spark.sql.functions._
    val target = Seq((1L, "a", 5L)).toDF("k", "v", "x")
    val source = Seq((1L, "S", 99L)).toDF("k", "v", "x")
    // update registered FIRST shields the row from a later delete
    val updFirst = MergeInto(target, source, "k")
      .whenMatchedUpdate(Map("v" -> col("__src.v")))
      .whenMatchedDelete()
      .run().select("v").as[String].collect().toSeq
    assert(updFirst == Seq("S"))
    // delete registered FIRST wins over a later update
    val delFirst = MergeInto(target, source, "k")
      .whenMatchedDelete()
      .whenMatchedUpdate(Map("v" -> col("__src.v")))
      .run().count()
    assert(delFirst == 0)
    // an earlier update claims the row entirely: the second update's
    // extra column assignment must NOT leak through
    val twoUpdates = MergeInto(target, source, "k")
      .whenMatchedUpdate(Map("v" -> col("__src.v")), col("__src.x") > 0)
      .whenMatchedUpdate(Map("v" -> lit("OTHER"), "x" -> col("__src.x")))
      .run().select("v", "x").as[(String, Long)].collect().toSeq
    assert(twoUpdates == Seq(("S", 5L)))
  }

  test("Measure listener: a two-partition groupBy shuffles, tasks use CPU") {
    val listener = Measure.attach(spark)
    try {
      val r = Measure.run(spark, listener)(spark.range(0, 10000, 1, 2)
        .groupBy((col("id") % 7).as("k")).count())
      assert(r.shuffleWriteRecords > 0 && r.shuffleReadRecords > 0, r)
      assert(r.shuffleWriteBytes > 0 && r.taskCpuMs > 0, r)
      assert(r.jobs >= 1 && r.stages.nonEmpty && r.maxTaskMs <= r.taskRunMs, r)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
