package graft.core

import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** Explicit pipeline breaker: write a frame to parquet and read it
  * back, so every downstream consumer re-reads the files instead of
  * recomputing the upstream plan.
  *
  * This is the production boundary between candidate GENERATION and
  * VERIFICATION in the dedup pipelines (q36/q37 shapes): their widest
  * frame — the exploded shingle aggregation — feeds two consumers, and
  * without a boundary each consumer recomputes it. The alternatives
  * both lose at scale:
  *  - `.cache()/persist()` pins executor storage for the life of the
  *    session; in a long-lived serving session it's never unpersisted
  *    (the round-3 leak), and at 100 TB the frame doesn't fit storage
  *    memory anyway — eviction makes the "cache" a slower recompute.
  *  - `.checkpoint()` needs a cluster-wide checkpoint dir and writes
  *    Spark-internal format; the files aren't reusable artifacts.
  * Parquet materialization costs one write of the (columnar,
  * compressed) frame, keeps lineage short for AQE re-planning, leaves
  * ZERO pinned storage, and the artifact is inspectable/reusable —
  * the same boundary the reference puts between pipeline stages as
  * Delta tables (notebooks/works/CreateWorksEnriched.ipynb staging).
  *
  * It is also how a derived frame gets a real size before a join plans
  * against it: a landed lookup is sized from its files, so a small one
  * broadcasts instead of shuffling the big side to meet it
  * (WorkIdResolver's key map, q115's flags). Callers: the composed
  * curation queries (q116, q126, q134, q138, q150, …), the resolver,
  * and any driver program composing these operators.
  */
object Materialize {

  /** Materialize `df` at `path` (overwrite) and return the re-read.
    * The re-read is given `df`'s schema: inferring it would start one
    * footer-reading Spark job per landing to recover a schema the
    * caller already holds. */
  def parquet(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Materialize into a fresh temp dir; the dir is deleted at JVM exit
    * (same shutdown set as [[cachedTemp]] — repeated bench/verify
    * passes through a query whose constructor lands boundaries would
    * otherwise accumulate unbounded /tmp usage). Callers may still
    * delete earlier via the returned path. */
  def temp(df: DataFrame, prefix: String = "graft-mat"): (DataFrame, String) = {
    val root = Files.createTempDirectory(prefix)
    cleanupHook.add(root.toString)
    val dir = root.resolve("data").toString
    (parquet(df, dir), dir)
  }

  private lazy val cleanupHook: java.util.Set[String] = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      s.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(java.nio.file.Paths.get(p)).iterator().asScala.toSeq
            .sortBy(-_.getNameCount).foreach(Files.deleteIfExists(_))
        } catch { case _: Throwable => () }
      }))
    s
  }

  /** Materialize ONCE per (key, JVM) and re-read on every later call —
    * for a boundary that sits INSIDE a registered query's constructor
    * (q140/q144's ANN codes): every plan build (each bench pass,
    * ExplainAudit explain, Verify run) would otherwise re-run the
    * upstream job and leak a fresh temp dir per pass. The landed files
    * are shared across queries that pass the same key (q140 and q144
    * share one codes frame — one float-corpus scan per JVM, the
    * production posture where codes are trained once) and are removed
    * at JVM exit. `mk` is only evaluated on the first call.
    *
    * CONTRACT — the key names an IMMUTABLE input: the cache is keyed
    * on the string for the JVM's lifetime, so callers must fold every
    * input-identity component into the key (the q140/q144 keys embed
    * the fixture dir; a process that REWRITES data under that dir —
    * e.g. re-running ScaleGen into the same path mid-session — must
    * use a new key or a new JVM, or it reads the stale landing). This
    * mirrors the production posture the boundary models: a trained
    * artifact is versioned by its source snapshot, never rebuilt in
    * place. The expensive Spark build runs OUTSIDE the map's per-key
    * lock (a memoized lazy holder is published via putIfAbsent), so a
    * reentrant cachedTemp call from inside `mk` — or a second key
    * hashing to the same CHM bin — can never deadlock in
    * computeIfAbsent; concurrent first-callers of the SAME key still
    * build exactly once (lazy-val semantics). */
  private val lazyCache =
    new java.util.concurrent.ConcurrentHashMap[String, () => String]()

  def cachedTemp(key: String, spark: org.apache.spark.sql.SparkSession)(
      mk: => DataFrame): DataFrame = {
    lazy val built: String = {
      val root = Files.createTempDirectory("graft-cached")
      cleanupHook.add(root.toString)
      val dir = root.resolve("data").toString
      mk.write.mode("overwrite").parquet(dir)
      dir
    }
    val holder = () => built
    val prev = lazyCache.putIfAbsent(key, holder)
    val path = (if (prev == null) holder else prev)()
    spark.read.parquet(path)
  }
}
