package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

/** The engine's eager barriers, and the one way to see behind them.
  *
  * A builder that `persist()`s a subtree referenced by several branches of
  * its returned plan cannot unpersist before returning — the caller's
  * action would recompute the subtree from scratch — so without a scope
  * boundary every invocation leaks cache entries for the life of the
  * session (executor memory pressure; an OOM at 100 TB operating scale,
  * where a long-lived service would run thousands of such queries).
  *
  *   - `materialize` closes the scope: it runs the terminal action itself
  *     by writing the builder's (small, post-aggregation) result to a temp
  *     parquet, releases every persisted input, and hands back the
  *     re-read. The caches live exactly as long as the computation that
  *     needs them. Row order is not preserved across the round-trip —
  *     apply the final `orderBy` to the returned frame, not the argument.
  *   - `shared` does the same once per key per session for a derived
  *     table several queries read (the [[Silver]] registry).
  *   - `checkpoint` pins a frame's partitioning with a lazy local
  *     checkpoint.
  *
  * Each barrier hides its input plan: downstream plans see only a
  * FileScan or a Scan ExistingRDD. [[capture]] runs a body with a recorder
  * installed and returns every barrier it reached, each with its input's
  * QueryExecution planned before the barrier wrote or released anything.
  * The plan registries (window bounds, shared subtrees, join fan-out) and
  * the plan-shape tests read barrier plans only through it. Outside
  * `capture` a barrier records nothing and plans its input only for its
  * own write.
  */
private[graft] object Scoped {

  // Every temp dir this object creates is registered here and deleted on
  // JVM shutdown — a long-lived session would otherwise accumulate one
  // parquet copy per materialized scope on local disk for its whole life.
  // (At cluster scale these would be managed silver tables with a
  // retention policy; the shutdown hook is the in-process analog.)
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def newTempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    tempDirs.add(dir)
    dir
  }

  sys.addShutdownHook {
    tempDirs.forEach { d =>
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(java.nio.file.Paths.get(d)).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(Files.deleteIfExists(_))
      } catch { case _: Exception => () } // best-effort cleanup
    }
  }

  /** One barrier reached inside [[capture]]:
    *   - `kind`: "materialize", "shared" (a build), "shared-hit" (a cached
    *     read) or "checkpoint";
    *   - `key`: the shared key, for the two shared kinds;
    *   - `in`: the key of the shared build this barrier ran inside, if any;
    *   - `input`: the barrier input's QueryExecution, planned before the
    *     barrier wrote or released anything (a shared-hit plans nothing).
    */
  final case class Barrier(
      kind: String, key: Option[String], in: Option[String],
      input: Option[QueryExecution])

  private final class Recorder {
    val barriers = scala.collection.mutable.ListBuffer.empty[Barrier]
    var open: List[String] = Nil // shared keys being built, innermost first
  }

  private val recorder = new AtomicReference[Recorder]()

  /** Runs `body` with a recorder installed and returns its result plus one
    * [[Barrier]] per barrier it reached, in the order each barrier's input
    * was planned (a barrier nested in a shared build precedes that build).
    * Captures nest: an inner one shadows the outer for its duration.
    */
  def capture[T](body: => T): (T, Seq[Barrier]) = {
    val r = new Recorder
    val prev = recorder.getAndSet(r)
    try {
      val out = body
      (out, r.synchronized(r.barriers.toList))
    } finally recorder.set(prev)
  }

  private def reached(
      kind: String, key: Option[String], input: Option[DataFrame]): Unit =
    Option(recorder.get).foreach { r =>
      val qe = input.map(_.queryExecution)
      qe.foreach(_.executedPlan) // plan now, while persisted inputs are cached
      r.synchronized(r.barriers += Barrier(kind, key, r.open.headOption, qe))
    }

  private def building[T](key: String)(body: => T): T =
    Option(recorder.get) match {
      case None => body
      case Some(r) =>
        r.synchronized(r.open = key :: r.open)
        try body finally r.synchronized(r.open = r.open.tail)
    }

  def materialize(persisted: DataFrame*)(result: DataFrame): DataFrame = {
    val spark = result.sparkSession
    reached("materialize", None, Some(result))
    val out = newTempDir("graft_mat_")
    result.write.mode("overwrite").parquet(out)
    persisted.foreach(_.unpersist())
    spark.read.parquet(out)
  }

  /** Localcheckpoint barrier (lazy): pins `df`'s partitioning for the
    * callers that consume it twice. Inside [[capture]] it records the
    * input plan the checkpoint's Scan ExistingRDD hides downstream.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    reached("checkpoint", None, Some(df))
    df.localCheckpoint(false)
  }

  /** Materialized DERIVED TABLE, built once per (key) per session.
    *
    * Several queries consume the same expensive intermediate (the verified
    * MinHash pair table feeds q35, the curation funnel and the cluster
    * pass; the global row-number table feeds both split queries). At
    * cluster scale these are silver tables you'd write once and read many
    * times — never recompute per query. This is that pattern in-process:
    * first caller builds + writes parquet and releases its caches; every
    * later caller (any query, any pass) reads the parquet. Unlike
    * `persist()` reuse, nothing occupies executor memory between queries.
    *
    * ASSUMES IMMUTABLE INPUTS for the life of the session: the cache keys
    * on the logical name (which embeds the input dir path), so if the
    * files under that path are rewritten the cached derivation is stale.
    * That matches the fixture contract (driver-generated parquet, never
    * mutated); a deployment with mutable inputs would key on a content
    * fingerprint (e.g. max modification time + file count) instead —
    * call `invalidate()` to drop the cache explicitly.
    */
  private val sharedPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Every key a shared build has run for this session — the audit trail
    * SilverRegistrySpec checks against the declared [[Silver]] registry,
    * so a new Scoped.shared call site cannot ship undeclared.
    */
  private val built =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def builtKeys: Set[String] = {
    import scala.jdk.CollectionConverters._
    built.asScala.toSet
  }

  def shared(spark: org.apache.spark.sql.SparkSession, key: String)(
      build: => (Seq[DataFrame], DataFrame)): DataFrame = {
    // NOT computeIfAbsent: derived tables nest (the global-rn build reads
    // the bars table), and a nested computeIfAbsent on the same map is a
    // recursive-update error. A lost race just builds twice into separate
    // temp dirs — idempotent and harmless.
    var path = sharedPaths.get(key)
    if (path == null) {
      built.add(key)
      val (persisted, result) = building(key)(build)
      reached("shared", Some(key), Some(result))
      // embed the logical name in the dir so plans/listings show WHICH
      // derived table a scan reads (the slug drops the input-dir path)
      val slug = key.takeWhile(_ != ':').replaceAll("[^A-Za-z0-9_]", "_")
      val out = newTempDir(s"graft_shared_${slug}_")
      result.write.mode("overwrite").parquet(out)
      persisted.foreach(_.unpersist())
      val prev = sharedPaths.putIfAbsent(key, out)
      path = if (prev == null) out else prev
    } else reached("shared-hit", Some(key), None)
    spark.read.parquet(path)
  }

  /** Drop every cached derived table (next caller rebuilds). For tests and
    * for callers that know an input dir changed under its path. */
  def invalidate(): Unit = sharedPaths.clear()
}
