package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.operators.{AsofJoin, IntervalJoin, SaltedJoin, TextQuality, TopK}

/** Seeded randomized parity for the round-14 scale operators: each
  * operator's Spark plan is driven with generated inputs (random keys,
  * score ties, duplicate rows, empty sides, zero-length and negative
  * intervals) and compared against an independent NAIVE formulation
  * computed driver-side in plain Scala — beyond the fixed fixtures of
  * OperatorsSpec. Seeds are pinned: failures reproduce. */
class RandomizedParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rng(seed: Long) = new scala.util.Random(seed)

  /** Runs `body` with the given session confs, then restores them. */
  private def withConfs[T](kv: Seq[(String, String)])(body: => T): T = {
    val conf = spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Generated code only: a kernel whose Java fails to compile fails
    * the test instead of falling back to the interpreter. */
  private val Codegen = Seq("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  /** What Spark runs after a codegen compile failure: interpreted
    * operators and interpreted projections. */
  private val NoCodegen = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** An RDD-backed frame: a local relation would be folded by the
    * optimizer's interpreted projection and never reach codegen. */
  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** Every (name, kernel, spec) pair agrees on data type, nullability
    * and every value, with and without codegen. */
  private def assertParity(df: DataFrame,
      pairs: Seq[(String, Column, Column)]): Unit =
    for ((mode, confs) <- Seq("codegen" -> Codegen,
        "no-codegen" -> NoCodegen)) withConfs(confs) {
      val out = df.select(pairs.flatMap { case (n, k, sp) =>
        Seq(k.as(s"k_$n"), sp.as(s"s_$n")) }: _*)
      val f = out.schema.fields
      for (((n, _, _), i) <- pairs.zipWithIndex) {
        assert(f(2 * i).dataType == f(2 * i + 1).dataType,
          s"$mode $n dataType")
        assert(f(2 * i).nullable == f(2 * i + 1).nullable,
          s"$mode $n nullable")
      }
      val rows = out.collect()
      assert(rows.length == df.count())
      for (r <- rows; ((n, _, _), i) <- pairs.zipWithIndex)
        assert(r.get(2 * i) == r.get(2 * i + 1), s"$mode $n on $r")
    }

  /** Random documents over a small vocabulary (ties, repeats) of 1-,
    * 2-, 3- and 4-byte UTF-8 tokens, some with tabs or newlines inside;
    * runs of spaces, leading and trailing spaces; plus the edge rows. */
  private def texts(seed: Long, n: Int): Seq[String] = {
    val r = rng(seed)
    val vocab = Seq("the", "a", "of", "x", "data", "é", "straße", "naïve",
      "中", "文字", "€uro", "𝄞", "😀ok", "tab\there", "line\nbreak", "\t",
      "\n", "a\r\nb", "!?", "7")
    def sep() = " " * (1 + (if (r.nextInt(4) == 0) r.nextInt(3) else 0))
    val random = Seq.fill(n) {
      val toks = Seq.fill(r.nextInt(25))(vocab(r.nextInt(vocab.size)))
      val lead = if (r.nextInt(5) == 0) " " * (1 + r.nextInt(2)) else ""
      val trail = if (r.nextInt(5) == 0) " " * (1 + r.nextInt(2)) else ""
      lead + toks.map(_ + sep()).mkString.dropRight(1) + trail
    }
    Seq(null, "", " ", "   ", "\t", "\n", "one", " one ", "one two",
      "a  b   c", "\ta b\n", "tab\tinside word", "é ß 中 𝄞",
      "😀 😀 😀", "x x y y z") ++ random
  }

  test("text kernels: tokens, token hashes, word shingles and token " +
    "chunks equal their HOF specs on random text, with and without " +
    "codegen") {
    for (seed <- Seq(81L, 82L)) {
      val df = frame(texts(seed, 200).map(Row(_)),
          StructType(Seq(StructField("text", StringType))))
        .withColumn("nn", coalesce(col("text"), lit("")))
      val pairs = Seq("text", "nn").flatMap { c =>
        val t = col(c)
        Seq((s"tokens_$c", TextFunctions.tokens(t), TextSpecs.tokens(t)),
          (s"hashes_$c", TextFunctions.tokenHashes(t),
            TextSpecs.tokenHashes(t))) ++
          Seq(1, 2, 3, 5).map(k => (s"shingles${k}_$c",
            TextFunctions.wordShingles(t, k), TextSpecs.wordShingles(t, k))) ++
          Seq(1, 3, 10).map(n => (s"chunks${n}_$c",
            TextQuality.tokenChunks(t, n), TextSpecs.tokenChunks(t, n)))
      }
      assertParity(df, pairs)
    }
  }

  test("text kernels: topCount equals its sort-and-fold spec on arrays " +
    "with ties, null elements, empty and null arrays") {
    for (seed <- Seq(91L, 92L)) {
      val r = rng(seed)
      val pool = Seq("a", "b", "ab", "é", "中", "𝄞", "", " ")
      val arrays = Seq(null, Seq(), Seq(null), Seq(null, null, "a"),
        Seq("a", null, "a", null, null), Seq("b", "a", "b", "a")) ++
        Seq.fill(200)(Seq.fill(r.nextInt(12))(
          if (r.nextInt(6) == 0) null else pool(r.nextInt(pool.size))))
      val df = frame(arrays.map(Row(_)), StructType(Seq(
          StructField("arr", ArrayType(StringType, containsNull = true)))))
        .withColumn("nn", coalesce(col("arr"), array().cast("array<string>")))
        .withColumn("text", concat_ws(" ", col("arr")))
      val pairs = Seq(
        ("arr", TextQuality.topCount(col("arr")), TextSpecs.topCount(col("arr"))),
        ("nn", TextQuality.topCount(col("nn")), TextSpecs.topCount(col("nn"))),
        ("tokens", TextQuality.topCount(TextFunctions.tokens(col("text"))),
          TextSpecs.topCount(TextSpecs.tokens(col("text")))),
        ("bigrams",
          TextQuality.topCount(TextFunctions.wordShingles(col("text"), 2)),
          TextSpecs.topCount(TextSpecs.wordShingles(col("text"), 2))))
      assertParity(df, pairs)
    }
  }

  /** `actual` equals `spec` on names, data types and nullability, and
    * on every row counted with multiplicity, with and without
    * codegen. */
  private def assertSameFrames(what: String)(
      pairs: => Seq[(String, DataFrame, DataFrame)]): Unit =
    for ((mode, confs) <- Seq("codegen" -> Codegen,
        "no-codegen" -> NoCodegen)) withConfs(confs) {
      def bag(df: DataFrame) =
        df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      for ((name, actual, spec) <- pairs) {
        assert(actual.schema == spec.schema, s"$mode $what $name schema:\n" +
          s"${actual.schema.treeString}vs\n${spec.schema.treeString}")
        assert(bag(actual) == bag(spec), s"$mode $what $name rows")
      }
    }

  test("signatureWithSets: kernel slots equal the per-slot min " +
    "aggregate on duplicate, null and negative sids and repeated doc ids") {
    import graft.operators.Dedup
    for (seed <- Seq(111L, 112L)) {
      val r = rng(seed)
      val pool: Seq[java.lang.Long] = Seq[java.lang.Long](null, 0L, 1L, -1L,
        Dedup.Prime, -Dedup.Prime, Dedup.Prime + 5, -(Dedup.Prime + 5),
        Long.MaxValue, Long.MinValue, (1L << 56) - 1, -(1L << 55)) ++
        Seq.fill(40)(java.lang.Long.valueOf(r.nextLong() >> r.nextInt(60)))
      val docs: Seq[java.lang.Long] = null +: (1L to 30L).map(Long.box)
      val random = Seq.fill(400)(Row(docs(r.nextInt(docs.size)),
        pool(r.nextInt(pool.size))))
      // doc 90: only null sids; doc 91: one sid repeated; doc 92: the
      // same (doc, sid) rows twice over
      val planted = Seq(Row(90L, null), Row(90L, null), Row(91L, -7L),
        Row(91L, -7L), Row(92L, 3L), Row(92L, -3L), Row(92L, 3L),
        Row(92L, -3L))
      val longs = frame(random ++ planted, StructType(Seq(
        StructField("doc_id", LongType), StructField("sid", LongType))))
      val ints = longs.select(col("doc_id"),
        (col("sid") % Int.MaxValue).cast("int").as("sid"))
      val strict = frame((random ++ planted).filter(_.get(1) != null),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("sid", LongType, nullable = false))))
      assertSameFrames(s"seed=$seed")(Seq(
        ("long16", Dedup.signatureWithSets(longs, "doc_id", 16),
          DedupSpecs.signatureWithSets(longs, "doc_id", 16)),
        ("long3", Dedup.signatureWithSets(longs, "doc_id", 3),
          DedupSpecs.signatureWithSets(longs, "doc_id", 3)),
        ("int16", Dedup.signatureWithSets(ints, "doc_id", 16),
          DedupSpecs.signatureWithSets(ints, "doc_id", 16)),
        ("nonNullSid", Dedup.signatureWithSets(strict, "doc_id", 16),
          DedupSpecs.signatureWithSets(strict, "doc_id", 16))))
    }
  }

  test("connectedComponents: stopping at the fixpoint equals the " +
    "fixed-round loop on chains past the cap, rings, stars, self-loops, " +
    "duplicate and reversed pairs, null endpoints, INT and STRING ids") {
    import graft.operators.Dedup
    val r = rng(121L)
    def chain(from: Int, n: Int) = (from until from + n - 1).map(i => (i, i + 1))
    def ring(from: Int, n: Int) = chain(from, n) :+ (from + n - 1, from)
    val star = (1 to 12).map(i =>
      if (i % 2 == 0) (300, 300 + i) else (300 + i, 300))
    val loops = Seq((400, 400), (401, 401), (401, 402))
    val dupRev = Seq((500, 501), (501, 500), (500, 501), (502, 501))
    val random = Seq.fill(60)((600 + r.nextInt(50), 600 + r.nextInt(50)))
    // chain of 40: diameter 39 needs 6 rounds, so maxIter 2 and 4 cap
    val edges: Seq[(Integer, Integer)] = (chain(100, 40) ++ ring(200, 9) ++
        star ++ loops ++ dupRev ++ random)
      .map { case (a, b) => (Int.box(a), Int.box(b)) } ++
      Seq[(Integer, Integer)]((700, null), (null, 701), (null, null),
        (700, 702), (null, 702))
    // reversed node order in the STRING graph: min ids differ from INT
    val ints = frame(edges.map { case (a, b) => Row(a, b) },
      StructType(Seq(StructField("da", IntegerType),
        StructField("db", IntegerType))))
    val strings = ints.select(
      concat(lit("n"), (lit(1000) - col("da")).cast("string")).as("a"),
      concat(lit("n"), (lit(1000) - col("db")).cast("string")).as("b"))
    val empty = ints.filter(lit(false))
    assertSameFrames("components")(Seq(2, 4, 8).flatMap(m => Seq(
      (s"int maxIter=$m", Dedup.connectedComponents(ints, maxIter = m),
        DedupSpecs.connectedComponents(ints, maxIter = m)),
      (s"string maxIter=$m",
        Dedup.connectedComponents(strings, "a", "b", maxIter = m),
        DedupSpecs.connectedComponents(strings, "a", "b", maxIter = m)))) ++
      Seq(1, 8).map(m => (s"empty maxIter=$m",
        Dedup.connectedComponents(empty, maxIter = m),
        DedupSpecs.connectedComponents(empty, maxIter = m))))
    // the cap binds on the chain, and the fixpoint holds at 8 rounds
    val capped = Dedup.connectedComponents(ints, maxIter = 2)
      .filter(col("id").between(100, 139)).select(col("cluster_id"))
      .distinct().count()
    assert(capped > 1)
    val whole = Dedup.connectedComponents(ints, maxIter = 8)
      .filter(col("id").between(100, 139)).select(col("cluster_id"))
      .as[Int].collect().toSet
    assert(whole == Set(100))
  }

  test("contaminationPairs: (doc, shingle) hits counted per (doc, bench) " +
    "equal the count-distinct on repeated and null shingles and null " +
    "doc and bench ids, minCommon 1 to 4") {
    import graft.operators.Dedup
    for (seed <- Seq(131L, 132L)) {
      val r = rng(seed)
      val vocab: Seq[String] = null +: Seq.tabulate(14)(i => s"w$i x$i")
      def pick[T](xs: Seq[T]) = xs(r.nextInt(xs.size))
      val docIds: Seq[java.lang.Long] = null +: (1L to 25L).map(Long.box)
      val benchIds: Seq[java.lang.Long] = null +: (100L to 105L).map(Long.box)
      // doc 50 shares exactly two shingles, one of them twice, with
      // the null bench id
      val planted = Seq(Row(50L, "only one"), Row(50L, "only two"),
        Row(50L, "only one"))
      val docs = frame(Seq.fill(300)(Row(pick(docIds), pick(vocab))) ++ planted,
        StructType(Seq(StructField("doc_id", LongType),
          StructField("shingle", StringType))))
      val bench = frame(Seq.fill(60)(Row(pick(benchIds), pick(vocab))) ++
          Seq(Row(null, "only one"), Row(null, "only two")),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("shingle", StringType))))
      val strict = bench.filter(col("doc_id").isNotNull).select(
        coalesce(col("doc_id"), lit(0L)).as("doc_id"), col("shingle"))
      assertSameFrames(s"seed=$seed")((1 to 4).flatMap(m => Seq(
        (s"minCommon=$m",
          Dedup.contaminationPairs(docs, bench, "doc_id", m),
          DedupSpecs.contaminationPairs(docs, bench, "doc_id", m)),
        (s"non-null bench ids minCommon=$m",
          Dedup.contaminationPairs(docs, strict, "doc_id", m),
          DedupSpecs.contaminationPairs(docs, strict, "doc_id", m)))))
      assert(Dedup.contaminationPairs(docs, bench, "doc_id", 2)
        .filter(col("doc_id") === 50L && col("bench_id").isNull)
        .select(col("n_common")).as[Long].collect().toSeq == Seq(2L))
    }
  }

  test("TopK buffers survive evaluation without codegen: topKRows and " +
    "topKDouble equal the codegen run") {
    val r = rng(101L)
    val d = Seq.fill(400)((r.nextInt(15).toLong, r.nextInt(5).toLong,
      r.nextInt(60).toLong, r.nextInt(4) / 2.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(d, 4))
      .toDF("g", "score", "id", "dscore")
    def run(): (Set[Row], Set[Row]) = {
      val rows = df.groupBy(col("g"))
        .agg(TopK.topKRows(3)(col("score"), col("id").cast("string"),
          col("id").cast("string")).as("tk"))
        .collect().toSet
      val dbl = df.groupBy(col("g"))
        .agg(TopK.topKDouble(3)(col("dscore"), col("id")).as("tk"))
        .collect().toSet
      (rows, dbl)
    }
    val codegen = run()
    assert(codegen._1.size == 15 && codegen._2.size == 15)
    val interpreted = withConfs(NoCodegen)(run())
    assert(interpreted == codegen)
    assert(run() == codegen)
  }

  test("asofJoin: random keys/timestamps (with cross-side ts " +
    "collisions and matchless keys) equal the per-row naive scan") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val r = rng(seed)
      // small ts domain forces equal-instant left/right collisions
      val left = Seq.fill(300)((r.nextInt(8).toLong,
        r.nextInt(40).toLong, r.nextLong(1000000)))
      val rights = Seq.fill(120)((r.nextInt(10).toLong,
        r.nextInt(40).toLong, r.nextDouble()))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq // unique (key, ts)
      val out = AsofJoin.asofJoin(
        left.toDF("k", "lts", "lid"),
        rights.toDF("k", "rts", "v"), Seq("k"), "lts", "rts")
        .select(col("k"), col("lts"), col("lid"), col("asof.v"))
        .as[(Long, Long, Long, Option[Double])].collect().toSet
      val expected = left.map { case (k, lts, lid) =>
        val m = rights.filter(t => t._1 == k && t._2 <= lts)
          .sortBy(_._2).lastOption
        (k, lts, lid, m.map(_._3))
      }.toSet
      assert(out == expected, s"seed=$seed")
    }
  }

  test("overlapJoin: random intervals (zero-length, negative, " +
    "spanning many buckets) equal the naive filter for every width") {
    for (seed <- Seq(21L, 22L)) {
      val r = rng(seed)
      def iv() = {
        val s = r.nextInt(400) - 200L
        // mix: points (zero-length), short, and long intervals
        val len = r.nextInt(3) match {
          case 0 => 0L
          case 1 => r.nextInt(10).toLong
          case _ => r.nextInt(150).toLong
        }
        (s, s + len)
      }
      val left = Seq.tabulate(120) { i => val (s, e) = iv()
        (r.nextInt(5).toLong, i.toLong, s, e) } // unique lids
      val right = Seq.tabulate(120) { i => val (s, e) = iv()
        (r.nextInt(5).toLong, 1000L + i, s, e) } // unique rids
      val expected = (for {
        (lk, lid, ls, le) <- left
        (rk, rid, rs, re) <- right
        if lk == rk && ls <= re && rs <= le
      } yield (lid, rid, math.min(le, re) - math.max(ls, rs))).toSet
      for (w <- Seq(1L, 7L, 64L, 1000L)) {
        val out = IntervalJoin.overlapJoin(
          left.toDF("k", "lid", "ls", "le"),
          right.toDF("k", "rid", "rs", "re"),
          Seq("k"), "ls", "le", "rs", "re", w)
          .select(col("lid"), col("rid"), col("overlap_len"))
          .as[(Long, Long, Long)].collect()
        assert(out.length == expected.size, s"seed=$seed w=$w: dup/missing")
        assert(out.toSet == expected, s"seed=$seed w=$w")
      }
    }
  }

  test("SaltedJoin: random skew with DUPLICATE rows and empty match " +
    "sets equals the plain inner join (multiplicities included)") {
    for (seed <- Seq(31L, 32L)) {
      val r = rng(seed)
      // 70% of rows on one hot key; ~half the rows byte-identical dups
      val big = Seq.fill(400) {
        val k = if (r.nextInt(10) < 7) 1L else r.nextInt(20).toLong
        (k, if (r.nextBoolean()) 0L else r.nextInt(50).toLong)
      }
      val small = Seq.fill(12)((r.nextInt(25).toLong, r.nextInt(5)))
      val plain = big.flatMap { case (k, p) =>
        small.filter(_._1 == k).map(s => (k, p, s._2)) }
        .groupBy(identity).view.mapValues(_.size).toMap
      for (salts <- Seq(1, 3, 8)) {
        val out = SaltedJoin.inner(big.toDF("k", "payload"),
          small.toDF("k", "s"), Seq("k"), salts)
          .as[(Long, Long, Int)].collect()
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(out == plain, s"seed=$seed salts=$salts")
      }
    }
  }

  test("TopK (pairs + payload rows): random heavy-tied scores equal " +
    "the window election for k below, at, and above group sizes") {
    for (seed <- Seq(41L, 42L)) {
      val r = rng(seed)
      // tiny score domain => massive ties; single-digit ids so string
      // collation == numeric order (the rows variant compares exactly)
      val d = Seq.fill(500)((r.nextInt(12).toLong, r.nextInt(4).toLong,
        r.nextInt(9).toLong))
      val df = d.toDF("g", "score", "id")
      for (k <- Seq(1, 5, 100)) {
        val expected = d.groupBy(_._1).flatMap { case (g, rows) =>
          rows.sortBy(t => (-t._2, t._3)).take(k).zipWithIndex
            .map { case ((_, s, id), i) => (g, (i + 1).toLong, s, id) }
        }.toSet
        val agg = df.groupBy(col("g"))
          .agg(TopK.topK(k)(col("score"), col("id")).as("tk"))
          .select(col("g"), posexplode(col("tk")))
          .select(col("g"), (col("pos") + 1).as("rank"),
            col("col.score"), col("col.id"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(agg == expected, s"seed=$seed k=$k pairs")
        val rowsAgg = df.groupBy(col("g"))
          .agg(TopK.topKRows(k)(col("score"),
            col("id").cast("string"), lit(null)).as("tk"))
          .select(col("g"), posexplode(col("tk")))
          .select(col("g"), (col("pos") + 1).as("rank"),
            col("col.score"), col("col.id").cast("long"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(rowsAgg == expected, s"seed=$seed k=$k rows-variant")
      }
    }
  }

  test("quantizedTopK: random code vectors with a TINY code domain " +
    "(mass distance ties) equal the naive per-query scan election") {
    import graft.operators.Similarity
    for (seed <- Seq(51L, 52L)) {
      val r = rng(seed)
      // dim 4 over codes {0,1,2} => many exactly-equal squared-L2
      // distances; ties must break on the neighbor id ascending
      val vecs = Seq.tabulate(60)(i =>
        (i.toLong, Seq.fill(4)(r.nextInt(3))))
      val df = vecs.toDF("vec_id", "codes")
      for (k <- Seq(1, 3, 70)) {
        val out = Similarity.quantizedTopK(df, "vec_id", "codes",
          col("vec_id") < 5, k)
          .as[(Long, Int, Long, Long)].collect().toSet
        val expected = (for {
          (q, qc) <- vecs.filter(_._1 < 5)
        } yield {
          val scored = vecs.filter(_._1 != q).map { case (c, cc) =>
            val d = qc.zip(cc).map { case (a, b) =>
              (a - b).toLong * (a - b) }.sum
            (c, d)
          }
          scored.sortBy(t => (t._2, t._1)).take(k).zipWithIndex
            .map { case ((c, d), i) => (q, i + 1, c, d) }
        }).flatten.toSet
        assert(out == expected, s"seed=$seed k=$k")
      }
    }
  }

  test("bloomSeenFlags: random corpora at aggressive FPP equal the " +
    "plain text-equality scan — the filter is pruning, never truth") {
    import graft.operators.Dedup
    for (seed <- Seq(71L, 72L)) {
      val r = rng(seed)
      // tiny vocab so the batch has real corpus collisions; fpp 0.5
      // forces MANY Bloom false positives through the verify stage
      def txt() = Seq.fill(3)("tok" + r.nextInt(40)).mkString(" ")
      val corpus = Seq.tabulate(300)(i => (i.toLong, txt()))
      val batch = Seq.tabulate(120)(i => (1000L + i,
        if (r.nextBoolean()) corpus(r.nextInt(300))._2 else txt()))
      val corpusTexts = corpus.map(_._2).toSet
      val expected = batch.map { case (id, t) =>
        (id, corpusTexts.contains(t)) }.toSet
      val out = Dedup.bloomSeenFlags(corpus.toDF("doc_id", "text"),
          batch.toDF("doc_id", "text"), "doc_id", "text", 0.5)
        .select(col("doc_id"), col("is_seen"))
        .as[(Long, Boolean)].collect().toSet
      assert(out == expected, s"seed=$seed")
      // the single-pass production build: filter sized from an
      // EXPLICIT metadata count (no corpus count() pass) — and an
      // UNDERSIZED count (worse realized FPP) still yields the exact
      // anti-join answer, because hits are verified verbatim
      for (expectedItems <- Seq(300L, 7L)) {
        val bf = Dedup.corpusBloom(corpus.toDF("doc_id", "text"),
          "text", 0.5, expectedItems)
        val outExplicit = Dedup.bloomSeenFlags(
            corpus.toDF("doc_id", "text"),
            batch.toDF("doc_id", "text"), "doc_id", "text", bf)
          .select(col("doc_id"), col("is_seen"))
          .as[(Long, Boolean)].collect().toSet
        assert(outExplicit == expected,
          s"seed=$seed expectedItems=$expectedItems")
      }
    }
  }

  test("topKDouble: random double scores with planted EXACT ties " +
    "equal the (score DESC, id ASC) window election") {
    for (seed <- Seq(61L, 62L)) {
      val r = rng(seed)
      // draw from 6 distinct doubles so exact ties are common
      val pool = Seq.fill(6)(r.nextDouble() * 2 - 1)
      val d = Seq.fill(400)((r.nextInt(10).toLong,
        pool(r.nextInt(pool.size)), r.nextInt(50).toLong))
      val df = d.toDF("g", "score", "id")
      for (k <- Seq(1, 4, 500)) {
        val expected = d.groupBy(_._1).flatMap { case (g, rows) =>
          rows.sortBy(t => (-t._2, t._3)).take(k).zipWithIndex
            .map { case ((_, s, id), i) => (g, (i + 1).toLong, s, id) }
        }.toSet
        val agg = df.groupBy(col("g"))
          .agg(TopK.topKDouble(k)(col("score"), col("id")).as("tk"))
          .select(col("g"), posexplode(col("tk")))
          .select(col("g"), (col("pos") + 1).as("rank"),
            col("col.score"), col("col.id"))
          .as[(Long, Long, Double, Long)].collect().toSet
        assert(agg == expected, s"seed=$seed k=$k")
      }
    }
  }
}
