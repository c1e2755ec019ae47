package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity}

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "one two three four five six seven eight nine ten"),          // exact dup of 3
    (5L, "completely different words entirely unrelated content here now yes no")
  ).toDF("doc_id", "text")

  test("connectedComponents: 60-hop chain, ring merge, singleton pair " +
    "— min-id canonicals within the default 8 pointer-jump rounds") {
    // a path 0-1-2-...-60 (diameter 60 > the 8 plain-propagation hops
    // — only pointer jumping reaches the min), a 3-ring sharing node
    // 60 (merges into the chain), and an isolated pair
    val chain = (0L until 60L).map(i => (i, i + 1))
    val ring = Seq((60L, 200L), (200L, 201L), (201L, 60L))
    val pair = Seq((500L, 400L))
    val cc = Dedup.connectedComponents(
        (chain ++ ring ++ pair).toDF("da", "db"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 60L).forall(i => cc(i) == 0L))
    assert(cc(200L) == 0L && cc(201L) == 0L)
    assert(cc(400L) == 400L && cc(500L) == 400L)
  }

  test("Sampling: stable splits under a seed, reshuffled under another, " +
    "stratified cap is exact and deterministic") {
    import graft.operators.Sampling
    val d = spark.range(1, 201).select(col("id"),
      (pmod(col("id"), lit(4))).cast("string").as("g"))
    val s1 = Sampling.hashSplit(d, "id", "seedA", 80, 10)
    val s2 = Sampling.hashSplit(d, "id", "seedA", 80, 10)
    val s3 = Sampling.hashSplit(d, "id", "seedB", 80, 10)
    assert(s1.select("id", "split").collect().toSet ==
      s2.select("id", "split").collect().toSet) // stable
    assert(s1.select("id", "split").collect().toSet !=
      s3.select("id", "split").collect().toSet) // seed reshuffles
    val splits = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
    val capped = Sampling.stratifiedCap(d, Seq("g"), "id", "s", 7)
    val per = capped.groupBy("g").count().collect().map(_.getLong(1))
    assert(per.length == 4 && per.forall(_ == 7L))
    assert(capped.collect().toSet ==
      Sampling.stratifiedCap(d, Seq("g"), "id", "s", 7).collect().toSet)
  }

  test("contaminationPairs: verbatim copy flagged, short overlap below " +
    "minCommon passes, decontaminate drops flagged docs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines at scale"),
      (3L, "short doc here")).toDF("doc_id", "text")
    val bench = Seq(
      (900L, "the quick brown fox jumps over something"), // 4 shared shingles
      (901L, "short doc here indeed"))                    // 1 shared shingle
      .toDF("doc_id", "text")
    val pairs = Dedup.contaminationPairs(
      Dedup.shingles(docs, "doc_id", "text", 3),
      Dedup.shingles(bench, "doc_id", "text", 3), "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 900L, 4L)))
    val clean = Dedup.decontaminate(docs, "doc_id",
      Dedup.contaminationPairs(
        Dedup.shingles(docs, "doc_id", "text", 3),
        Dedup.shingles(bench, "doc_id", "text", 3), "doc_id", 3))
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L))
  }

  test("Dedup.exactGroups collapses identical texts") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 4)
    val dup = g.filter(col("n_dups") === 2).select("canonical_id").as[Long].collect()
    assert(dup.toSeq == Seq(3L))
  }

  test("MinHash+LSH finds planted near-dup and exact dup (hashed)") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val ids = Dedup.withShingleIds(sh)
    val sig = Dedup.signatureWithSets(ids.select(col("doc_id"), col("sid")), "doc_id", 16)
    val cand = Dedup.lshCandidates(sig, "doc_id", 4, 4)
    val pairs = Dedup.jaccardForPairs(cand, sh, "doc_id")
      .filter(col("jaccard") >= 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "missing near-dup")
    assert(pairs.contains((3L, 4L)), "missing exact dup")
  }

  test("SimHash: exact dup at Hamming 0, byte-block join finds it") {
    val wtok = docs.select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val dict = wtok.select("w").distinct()
      .withColumn("wid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("w")).cast("long"))
    val sig = Dedup.simHash(wtok.join(dict, "w"), "doc_id")
    val pairs = Dedup.simHashPairs(sig, "doc_id", 3)
      .select("da", "db", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((3L, 4L, 0)))
  }

  test("Similarity.bruteForceTopK ranks by cosine with id tiebreak") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      col("vec_id") === 0, 2)
      .select("rank", "neighbor").as[(Int, Long)].collect().sortBy(_._1)
    assert(top.head == (1, 3L)) // identical vector, cos 1.0
    assert(top(1) == (2, 1L))
  }

  test("Similarity.hyperplaneBucket groups identical vectors together") {
    val ps = Similarity.planes(8, 2)
    val emb = Seq((0L, Array(1.0f, 0.2f)), (1L, Array(1.0f, 0.2f)),
      (2L, Array(-1.0f, -0.2f))).toDF("vec_id", "embedding")
    val b = emb.select(col("vec_id"),
        Similarity.hyperplaneBucket(Similarity.toDoubleVec(col("embedding")), ps).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(b(0L) == b(1L) && b(0L) != b(2L))
  }

  test("Multimodal: magic sniff + deterministic stub features, no driver collect") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 1, 2, 3)
    val assets = Seq(Multimodal.Asset(1L, png, "png"),
      Multimodal.Asset(2L, Array[Byte](1, 2, 3, 4), "raw")).toDS()
    val meta = Multimodal.withMediaMeta(assets.toDF(), "media")
      .select("asset_id", "sniffed_format").as[(Long, String)].collect().toMap
    assert(meta(1L) == "png" && meta(2L) == "unknown")
    val f1 = Multimodal.extractFeatures(assets, 4).collect().sortBy(_.asset_id)
    val f2 = Multimodal.extractFeatures(assets, 4, batchSize = 1)
      .collect().sortBy(_.asset_id)
    // batch shape must not change results
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
    assert(f1(0).byte_len == 7)
  }

  test("Multimodal: resize spec preserves aspect, frame plan caps and strides") {
    val dims = Seq((4000, 1000), (100, 50), (720, 1280)).toDF("w", "h")
      .select(Multimodal.resizeSpec(col("w"), col("h"), 512).as("r"))
      .select("r.w", "r.h").as[(Int, Int)].collect().toSeq
    assert(dims(0) == ((512, 128))) // downscale by longest side
    assert(dims(1) == ((100, 50))) // never upscale
    assert(dims(2) == ((288, 512))) // portrait
    val plans = Seq(10000L, 400L, 0L).toDF("dur")
      .select(Multimodal.frameSamplePlan(col("dur"), fps = 30.0,
        everyNth = 10, maxFrames = 8).as("p"))
      .as[Seq[Long]].collect().toSeq
    assert(plans(0) == Seq(0L, 10L, 20L, 30L, 40L, 50L, 60L, 70L)) // capped at 8
    assert(plans(1) == Seq(0L, 10L)) // 12 frames -> indices 0,10
    assert(plans(2) == Seq.empty) // zero duration
  }

  test("scalarQuantize: exact int8 codes from per-dim min/max, " +
    "constant dims code to 0, extremes hit 0/255") {
    import graft.operators.Similarity
    // dim 0 spans [1, 3], dim 1 constant 5, dim 2 spans [-2, 2]
    val emb = Seq(
      (1L, Seq(1.0f, 5.0f, -2.0f)),
      (2L, Seq(3.0f, 5.0f, 2.0f)),
      (3L, Seq(2.0f, 5.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantize(emb, "vec_id", "embedding")
      .select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(out(1L) == Seq(0, 0, 0)) // mins of spanning dims, const dim
    assert(out(2L) == Seq(255, 0, 255)) // maxes
    // mid: (2-1)/(3-1)*255+0.5 = 128.0 -> 128; (0+2)/4*255+0.5 = 128
    assert(out(3L) == Seq(128, 0, 128))
    // deterministic rerun
    val again = Similarity.scalarQuantize(emb, "vec_id", "embedding")
      .select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(again == out)
  }

  test("SaltedJoin: result identical to the plain inner join on a " +
    "skewed key, any salt count") {
    import graft.operators.SaltedJoin
    // 90% of big rows pile on key 1 — the shape salting exists for
    val big = (1L to 200L).map(i =>
      (if (i % 10 != 0) 1L else i, i)).toDF("k", "payload")
    val small = Seq((1L, "hot"), (10L, "a"), (20L, "b"), (999L, "none"))
      .toDF("k", "v")
    val plain = big.join(small, Seq("k"))
      .select("k", "payload", "v")
      .as[(Long, Long, String)].collect().toSeq.sorted
    for (salts <- Seq(1, 4, 16)) {
      val salted = SaltedJoin.inner(big, small, Seq("k"), salts)
        .select("k", "payload", "v")
        .as[(Long, Long, String)].collect().toSeq.sorted
      assert(salted == plain, s"salts=$salts")
    }
    assert(plain.count(_._1 == 1L) == 180)
  }

  test("SaltedJoin: byte-identical duplicate rows spread across salts; " +
    "MapType columns are tolerated; explicit salt source honored") {
    import graft.operators.SaltedJoin
    // 200 FULLY-duplicated rows on the hot key — a pure content hash
    // would funnel all of them through one reducer
    val big = (1L to 200L).map(_ => (1L, "same")).toDF("k", "payload")
    val small = Seq((1L, "hot")).toDF("k", "v")
    val spread = big
      .withColumn("__salt", pmod(SaltedJoin.defaultSalt(big), lit(8L)))
      .select(countDistinct(col("__salt"))).as[Long].collect()(0)
    assert(spread > 1, "duplicate rows must not share one salt")
    val out = SaltedJoin.inner(big, small, Seq("k"), 8)
    assert(out.count() == 200)
    // a MapType column must not break the default salt (xxhash64
    // rejects maps at analysis — defaultSalt excludes them)
    val withMap = big.withColumn("m", map(lit("a"), col("payload")))
    assert(SaltedJoin.inner(withMap, small, Seq("k"), 4).count() == 200)
    // explicit salt source: same join result, caller-chosen spread
    val explicit = SaltedJoin.inner(big, small, Seq("k"), 4,
      monotonically_increasing_id())
    assert(explicit.count() == 200)
  }

  test("TopK aggregate: equals the window top-k on ties and " +
    "smaller-than-k groups") {
    import graft.operators.TopK
    import org.apache.spark.sql.expressions.Window
    // group 1: 5 rows with tied scores; group 2: only 2 rows
    val d = Seq((1L, 10L, 101L), (1L, 10L, 100L), (1L, 20L, 105L),
      (1L, 10L, 99L), (1L, 5L, 98L), (2L, 7L, 201L), (2L, 9L, 200L))
      .toDF("g", "score", "id")
    val agg = d.groupBy(col("g"))
      .agg(TopK.topK(3)(col("score"), col("id")).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rank"),
        col("col.score").as("score"), col("col.id").as("id"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val win = d.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("g", "rank", "score", "id")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(agg == win && agg.size == 5) // 3 from group 1, 2 from group 2
  }

  test("topKRows: payload-carrying election equals the window top-k — " +
    "string-id ties, short groups, election order, JSON payload " +
    "round-trips doubles exactly") {
    import graft.operators.TopK
    import org.apache.spark.sql.expressions.Window
    val d = Seq((1L, 10L, "b", 0.1), (1L, 10L, "a", 0.30000000000000004),
      (1L, 20L, "z", 0.3), (1L, 10L, "c", 1.0 / 3.0), (1L, 5L, "q", 2.5),
      (2L, 7L, "x", -0.0), (2L, 9L, "y", 4.2))
      .toDF("g", "score", "id", "payload_val")
    val agg = d.groupBy(col("g"))
      .agg(TopK.topKRows(3)(col("score"), col("id"),
        to_json(struct(col("payload_val")))).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rank"),
        col("col.score").as("score"), col("col.id").as("id"),
        from_json(col("col.payload"), "payload_val DOUBLE",
          Map.empty[String, String]).getField("payload_val").as("pv"))
      .as[(Long, Long, Long, String, Double)].collect().toSet
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val win = d.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("g"), col("rank"), col("score"), col("id"),
        col("payload_val"))
      .as[(Long, Long, Long, String, Double)].collect().toSet
    assert(agg == win && agg.size == 5)
    // exact doubles back out of the JSON payload (incl. the 17-digit
    // 0.30000000000000004 vs its near-neighbor 0.3)
    val pvs = agg.map(t => t._4 -> t._5).toMap
    assert(pvs("a") == 0.30000000000000004 && pvs("z") == 0.3)
  }

  test("spanContamination: verbatim 8-token runs detected at the " +
    "right position; short eval rows yield zero hashes (no false " +
    "positives); clean docs uncontaminated") {
    import graft.operators.TextQuality
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // contains the eval run at pos 1
      (2L, "a b c d e f g h"), // the eval run IS the doc (pos 0)
      (3L, "one two three four five six seven eight nine"), // clean
      (4L, "b c d e f g h i") // overlaps eval text but shifted: no run
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "b c d e f g h i j"), // 9 tokens => two 8-windows
      (101L, "short prompt only"), // 3 tokens => zero hashes
      (102L, "one two three") // prefix of doc 3, too short to matter
    ).toDF("doc_id", "text")
    val out = TextQuality.spanContamination(docs, bench,
        "doc_id", "text", 8)
      .as[(Long, Int, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 10, 2L, 2L, 1L, true))) // both eval windows
    assert(out(2L)._6 == false) // "a b c..h" is NOT an eval window
    assert(out(3L) == ((3L, 9, 0L, 0L, -1L, false)))
    assert(out(4L) == ((4L, 8, 1L, 1L, 0L, true))) // b..i at pos 0
  }

  test("packWhole: greedy no-split packing — naive fold parity, no " +
    "pack overflows, over-long docs dropped, dense pack indices") {
    import graft.operators.Sampling
    import graft.functions.TextFunctions
    val docs = (1L to 200L).map(i => (i, (i * 37 % 130) + 1))
      .toDF("doc_id", "n_tokens")
      .withColumn("n_tokens",
        when(col("doc_id") % 19 === 0, lit(999L)) // over-long: dropped
          .otherwise(col("n_tokens")))
    val out = Sampling.packWhole(docs, "doc_id", "n_tokens", 128,
        "s9", bucketBits = 2)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // naive driver-side fold over the same (hash, id) order
    val hashed = docs.select(col("doc_id"), col("n_tokens"),
        TextFunctions.charHash(concat(col("doc_id").cast("string"),
          lit(":packw:s9"))).as("h"))
      .as[(Long, Long, Long)].collect()
      .filter(t => t._2 > 0 && t._2 <= 128)
    val expected = hashed.toSeq.groupBy(_._3 >> 54).flatMap { case (b, rows) =>
      var fill = 0L; var idx = 0L
      rows.sortBy(t => (t._3, t._1)).map { case (id, n, _) =>
        if (fill + n > 128) { idx += 1; fill = 0L }
        fill += n
        (id, n, b, idx, b * 4294967296L + idx, fill)
      }
    }.toSet
    assert(out.toSet == expected && out.nonEmpty)
    assert(out.forall(_._6 <= 128)) // no pack ever overflows
    assert(!out.exists(_._1 % 19 == 0)) // over-long docs dropped
    // pack indices dense per bucket: max_idx + 1 == distinct packs
    out.groupBy(_._3).foreach { case (_, rows) =>
      val idxs = rows.map(_._4).toSet
      assert(idxs == (0L until idxs.size).toSet)
    }
  }

  test("packWhole: maxBucketRows guard fails FAST with the resize " +
    "hint when a bucket outgrows the buffer contract") {
    import graft.operators.Sampling
    val docs = (1L to 50L).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
    // bucketBits=1 (2 buckets over 50 docs) with a 5-row ceiling must
    // trip before any bucket finishes buffering
    val e = intercept[org.apache.spark.SparkException] {
      Sampling.packWhole(docs, "doc_id", "n_tokens", 128, "s9",
        bucketBits = 1, maxBucketRows = 5).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage)
      .getOrElse(e.getMessage) + e.getMessage
    assert(msg.contains("maxBucketRows") && msg.contains("bucketBits"))
    // the default ceiling leaves the same corpus untouched
    assert(Sampling.packWhole(docs, "doc_id", "n_tokens", 128, "s9",
      bucketBits = 1).count() === 50L)
  }

  test("overlapJoin: bucket blocking emits each true pair exactly " +
    "once, touching endpoints overlap, disjoint excluded") {
    import graft.operators.IntervalJoin
    val left = Seq((1L, 11L, 0L, 100L), (1L, 12L, 250L, 260L),
      (2L, 13L, 0L, 10L)).toDF("k", "lid", "ls", "le")
    val right = Seq((1L, 21L, 100L, 300L), (1L, 22L, 90L, 95L),
      (2L, 23L, 11L, 20L)).toDF("k", "rid", "rs", "re")
    // width 7 forces multi-bucket spans (interval 0..100 covers 15
    // buckets; pair (11, 21) shares several) — still ONE output row
    val out = IntervalJoin.overlapJoin(left, right, Seq("k"),
      "ls", "le", "rs", "re", 7L)
      .select(col("lid"), col("rid"), col("overlap_len"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(out == Seq((11L, 21L, 0L), // touching at 100: closed overlap
      (11L, 22L, 5L), (12L, 21L, 10L)))
    // (13, 23): [0,10] vs [11,20] disjoint — closed ends do NOT touch
  }

  test("overlapJoin: negative coordinates bucket by floor division — " +
    "pre-epoch intervals pair exactly like the naive join") {
    import graft.operators.IntervalJoin
    // intervals straddling zero: truncating `div` would fold buckets
    // -6..6 into bucket 0 and double-emit (or drop) straddling pairs
    val left = Seq((1L, 11L, -20L, -5L), (1L, 12L, -3L, 4L),
      (1L, 13L, -100L, 100L)).toDF("k", "lid", "ls", "le")
    val right = Seq((1L, 21L, -7L, -6L), (1L, 22L, 0L, 2L),
      (1L, 23L, -50L, -30L)).toDF("k", "rid", "rs", "re")
    val naive = left.join(right, Seq("k"))
      .filter(col("ls") <= col("re") && col("rs") <= col("le"))
      .select(col("lid"), col("rid"))
      .as[(Long, Long)].collect().toSeq.sorted
    for (w <- Seq(1L, 7L, 64L)) {
      val out = IntervalJoin.overlapJoin(left, right, Seq("k"),
        "ls", "le", "rs", "re", w)
        .select(col("lid"), col("rid"))
        .as[(Long, Long)].collect().toSeq.sorted
      assert(out == naive, s"bucketWidth=$w")
    }
  }

  test("asofJoin: latest right row at or before each left ts per key, " +
    "equal-ts visible, no-match null") {
    import graft.operators.AsofJoin
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"),
      (2L, 50L, "d")).toDF("k", "lts", "tag")
    val right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (2L, 60L, 3.0))
      .toDF("k", "rts", "v")
    val out = AsofJoin.asofJoin(left, right, Seq("k"), "lts", "rts")
      .select(col("tag"), col("asof.v"))
      .as[(String, Option[Double])].collect().toMap
    assert(out("a").contains(1.0)) // equal ts IS visible
    assert(out("b").contains(2.0)) // latest of 10, 15
    assert(out("c").isEmpty) // nothing at or before 5
    assert(out("d").isEmpty) // key 2's only right row is later
    // left columns survive untouched
    val cols = AsofJoin.asofJoin(left, right, Seq("k"), "lts", "rts").columns
    assert(cols.toSeq == Seq("k", "lts", "tag", "asof"))
  }

  test("asofJoin: NULL right timestamps never match (dropped); NULL " +
    "left timestamps get a NULL match — DuckDB ASOF parity") {
    import graft.operators.AsofJoin
    val left = Seq((1L, Option(10L), "a"), (1L, Option.empty[Long], "n"))
      .toDF("k", "lts", "tag")
    // the NULL-ts right row would sort FIRST and leak 9.0 into every
    // match via last(ignoreNulls) if it weren't filtered
    val right = Seq((1L, Option.empty[Long], 9.0), (1L, Option(7L), 1.0))
      .toDF("k", "rts", "v")
    val out = AsofJoin.asofJoin(left, right, Seq("k"), "lts", "rts")
      .select(col("tag"), col("asof.v"))
      .as[(String, Option[Double])].collect().toMap
    assert(out("a").contains(1.0)) // matches ts=7, never the NULL row
    assert(out("n").isEmpty) // NULL left ts: no row is "at or before"
  }

  test("quantizedTopK: integer squared-L2 over codes, deterministic " +
    "tie-break on id") {
    import graft.operators.Similarity
    val codes = Seq(
      (1L, Seq(0, 0)), (2L, Seq(3, 4)), (3L, Seq(0, 5)),
      (4L, Seq(3, 4))).toDF("vec_id", "codes")
    val out = Similarity.quantizedTopK(codes, "vec_id", "codes",
      col("vec_id") === 1, 3)
      .select("rank", "neighbor", "dist")
      .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
    // dists from (0,0): id2 = 25, id3 = 25, id4 = 25 — all tie, id asc
    assert(out == Seq((1, 2L, 25L), (2, 3L, 25L), (3, 4L, 25L)))
  }

  test("trainCentroids: deterministic hash-seeded k-means — iters=0 " +
    "returns the hash-elected seed vectors, iterated centroids sit on " +
    "the micro grid, and reruns are bit-identical") {
    val r = new scala.util.Random(4242)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Array.fill(8)((r.nextDouble() * 2 - 1).toFloat).toSeq))
    val e = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
    // iters=0: centroids ARE the k seed vectors, in (hash, id) order
    val seeds = Similarity.trainCentroids(e, "vec_id", "v", 5, 0, "sA")
      .orderBy("cent_id").collect()
    assert(seeds.map(_.getLong(0)).toSeq == (0L until 5L))
    // pure-Scala replication of the seeded affine permutation
    val p = Similarity.SeedPrime
    val ha = 2L * (Similarity.charHashLocal("sA") % p) + 1L
    val hb = Similarity.charHashLocal("sA:b") % p
    val hashed = vecs.map { case (id, _) =>
      val q = Similarity.charHashLocal(id.toString) % p *
        Similarity.SeedSpread % p
      ((q * ha + hb) % p, id)
    }.sorted.take(5).map(_._2)
    val seedVecs = vecs.toMap
    seeds.zip(hashed).foreach { case (row, expectId) =>
      val cv = row.getSeq[Double](1)
      assert(cv == seedVecs(expectId).map(_.toDouble),
        s"seed cent_id=${row.getLong(0)} must be vec $expectId")
    }
    // iterated: k rows, every component on the exact 1e-6 grid, rerun
    // bit-identical (the cross-engine mean protocol)
    val c1 = Similarity.trainCentroids(e, "vec_id", "v", 5, 2, "sA")
      .orderBy("cent_id").collect()
    val c2 = Similarity.trainCentroids(e, "vec_id", "v", 5, 2, "sA")
      .orderBy("cent_id").collect()
    assert(c1.length == 5)
    c1.foreach { row =>
      row.getSeq[Double](1).foreach { x =>
        assert(x == math.rint(x * 1000000) / 1000000.0,
          s"centroid component $x off the micro grid") }
    }
    assert(c1.map(_.getSeq[Double](1)).toSeq ==
      c2.map(_.getSeq[Double](1)).toSeq)
    // a different seed elects different seed vectors
    val cB = Similarity.trainCentroids(e, "vec_id", "v", 5, 0, "sB")
      .orderBy("cent_id").collect()
    assert(cB.map(_.getSeq[Double](1)).toSeq !=
      seeds.map(_.getSeq[Double](1)).toSeq)
  }

  test("semanticDupFlags giant-cell guard: a ~95%-hot cell triggers " +
    "residual-LSH sub-bucketing — exact duplicates always co-bucket, " +
    "guarded flags are a subset (the documented recall trade), and a " +
    "planted opposite-residual near-pair is the missed witness") {
    val dim = 8
    val r = new scala.util.Random(777)
    // two explicit far-apart centroids; the HOT cluster centers ON
    // centroid 0 so residuals (v - c0) are the direction-diverse noise
    val c0 = Array(10.0, 0, 0, 0, 0, 0, 0, 0)
    val c1 = Array(-10.0, 0, 0, 0, 0, 0, 0, 0)
    val hot = Seq.tabulate(200)(i => (i.toLong,
      c0.map(_ + (r.nextDouble() * 2 - 1)).toSeq))
    val cold = Seq.tabulate(10)(i => (500L + i,
      c1.map(_ + (r.nextDouble() * 2 - 1)).toSeq))
    // witnesses: vA / vB differ ONLY by an opposite-sign residual
    // component (residuals +0.1*e2 and -0.1*e2 ⇒ every hyperplane dot
    // flips sign ⇒ complementary sub-buckets, guaranteed split) but
    // cos(vA, vB) ≈ 0.9998; vDup is an EXACT copy of vA (identical
    // residual ⇒ identical sub-bucket, can never be lost)
    val vA = c0.clone(); vA(2) = 0.1
    val vB = c0.clone(); vB(2) = -0.1
    val all = (hot ++ cold ++ Seq((1000L, vA.toSeq), (1001L, vB.toSeq),
      (1002L, vA.toSeq))).toDF("vec_id", "v")
      .withColumn("nrm", Similarity.norm(col("v")))
    val cent = Seq((0L, c0.toSeq), (1L, c1.toSeq)).toDF("cent_id", "cv")
      .withColumn("cn", Similarity.norm(col("cv")))
    def flags(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(col("is_semantic_dup")).select("vec_id")
        .collect().map(_.getLong(0)).toSet
    // exact-dup threshold: both forms flag exactly the planted copy
    val exactGuard = flags(Similarity.semanticDupFlags(all, "vec_id",
      "v", "nrm", cent, 1000000L, maxCellSize = 50L, subPlanes = 3,
      dim = dim))
    val exactFull = flags(Similarity.semanticDupFlags(all, "vec_id",
      "v", "nrm", cent, 1000000L))
    assert(exactFull == Set(1002L))
    assert(exactGuard == Set(1002L),
      "an exact duplicate must survive the guard (identical residuals)")
    // near-dup threshold: the guard can only REMOVE pairs, and the
    // opposite-residual pair is provably split
    val nearGuard = flags(Similarity.semanticDupFlags(all, "vec_id",
      "v", "nrm", cent, 999000L, maxCellSize = 50L, subPlanes = 3,
      dim = dim))
    val nearFull = flags(Similarity.semanticDupFlags(all, "vec_id",
      "v", "nrm", cent, 999000L))
    assert(nearGuard.subsetOf(nearFull))
    assert(nearFull.contains(1001L),
      "unguarded must flag the near pair (cos ~0.9998)")
    assert(!nearGuard.contains(1001L),
      "the opposite-residual near pair must land in complementary " +
        "sub-buckets — the documented recall trade of the guard")
    assert(nearGuard.contains(1002L), "exact copy still flagged")
    // cells at or under the cap are untouched: an inert cap equals
    // the unguarded output exactly
    val inert = flags(Similarity.semanticDupFlags(all, "vec_id", "v",
      "nrm", cent, 999000L, maxCellSize = 100000L, subPlanes = 3,
      dim = dim))
    assert(inert == nearFull)
  }

  test("ArrayDotProduct: native codegen == HOF fold bit-for-bit, null semantics") {
    import graft.operators.Similarity
    graft.plans.ArrayDotProduct.register(spark)
    val vecs = Seq(
      (Seq(1.5, -2.25, 3.125), Seq(0.5, 4.75, -1.125)),
      (Seq(0.1, 0.2), Seq(0.3, 0.4))).toDF("a", "b")
    val both = vecs.select(Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotFold(col("a"), col("b")).as("fold")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact bits
    // length mismatch and null element → null (matches zip_with padding)
    val edge = Seq((Seq(1.0, 2.0), Seq(1.0)), (Seq(1.0), Seq.empty[Double]))
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d")).collect()
    assert(edge.forall(_.isNullAt(0)))
    val withNull = spark.sql(
      "SELECT array_dot(array(1.0d, cast(null as double)), array(1.0d, 2.0d)) d")
      .collect()(0)
    assert(withNull.isNullAt(0))
  }
}
