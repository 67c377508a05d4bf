package perfbench

import graft.SparkEntry
import graft.operators.Silver
import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** One benchmark JVM.
  *
  * `--mode run` starts the session (configured as graft.Bench configures
  * it), builds the silver tables the workload reads, runs one untimed
  * warm-up pass that also digests every result for the output check, then
  * `--passes` timed passes, each over a seeded permutation of the query
  * list. `--mode survey` runs every query of the surface twice and records
  * the second run with its layer split; `--mode dump` writes the listed
  * queries' results and oracle SQL in the layout tools/check_oracle.py
  * reads.
  *
  * Every measurement is written as one JSON object per line to `--out`;
  * run.py turns the lines into metrics. A timed query runs exactly as in
  * graft.Bench: builder call, `executedPlan`, then a noop-format write.
  */
object Harness {
  private val nanosPerMs = 1e6

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opt.getOrElse("mode", "run")
    val dir = new File(opt("fixtures")).getAbsolutePath
    val out = new PrintWriter(opt("out"), "UTF-8")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = System.currentTimeMillis - jvmStart
    val all = SparkEntry.queries
    val names = opt.get("queries").filter(_.nonEmpty).map(_.split(',').toSeq)
      .getOrElse(all.keys.toSeq.sorted)
    val bench = new Bench(spark, dir, all, out)
    try mode match {
      case "run" =>
        bench.setup(names, jvmStart, sessionMs)
        bench.timed(names, opt("seed").toLong, opt("passes").toInt,
          opt.getOrElse("trace", "0") == "1")
      case "survey" => bench.survey(names)
      case "dump" => bench.dump(names, opt("dump-dir"))
    } finally {
      out.close()
      spark.stop()
    }
  }

  /** Minimal JSON rendering for flat records of strings, numbers,
    * booleans and nested maps. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / nanosPerMs
}

/** Timing of one query: builder, `executedPlan`, noop write. */
final case class Run(
    q: String, buildMs: Double, planMs: Double, execMs: Double,
    wallMs: Double, buildWindow: (Long, Long), phases: Map[String, Double],
    gcMs: Long, error: Option[String])

/** The timers and tracers around the query surface, for one session. */
final class Bench(
    spark: SparkSession, dir: String,
    all: Map[String, (SparkSession, String) => DataFrame], out: PrintWriter) {
  import Harness.{json, ms}

  private val sc = spark.sparkContext
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private val jobs = new JobTracer
  private val streams = new StreamTracer
  sc.addSparkListener(streams)
  /** micro-batches already taken from the tracer during the current pass */
  private val passBatches = scala.collection.mutable.ArrayBuffer.empty[Batch]

  private def emit(kind: String, fields: (String, Any)*): Unit = {
    out.println(json(Map("kind" -> kind) ++ fields))
    out.flush()
  }

  private def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  private def gcTotal(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** `after` sees the built frame once the timers have stopped. */
  private def runOnce(q: String, tag: Option[String],
      after: DataFrame => Unit = _ => ()): Run = {
    def phase(p: String): Unit = tag.foreach(t => sc.setLocalProperty(JobTracer.TagKey, s"$t|$p"))
    val w0 = System.currentTimeMillis
    val t0 = System.nanoTime
    var t1, t2, t3 = t0
    var w1 = w0
    var gc = 0L
    var phases = Map.empty[String, Double]
    val err = try {
      phase("build")
      val df = all(q)(spark, dir)
      t1 = System.nanoTime; w1 = System.currentTimeMillis
      phase("plan")
      df.queryExecution.executedPlan
      t2 = System.nanoTime
      phase("exec")
      val g0 = gcTotal()
      df.write.format("noop").mode("overwrite").save()
      t3 = System.nanoTime
      gc = gcTotal() - g0
      phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      sc.setLocalProperty(JobTracer.TagKey, null)
      after(df)
      None
    } catch {
      case e: Throwable => Some(errText(e))
    } finally {
      sc.setLocalProperty(JobTracer.TagKey, null)
    }
    if (err.isDefined) { val t = System.nanoTime; if (t1 == t0) t1 = t; if (t2 == t0) t2 = t; t3 = t }
    Run(q, ms(t0, t1), ms(t1, t2), ms(t2, t3), ms(t0, t3), (w0, w1), phases, gc, err)
  }

  /** Session start, the builds of every silver table the registry lists a
    * workload query as consuming, and one untimed warm-up pass that also
    * digests every result for the output check; `setup_s` runs from JVM
    * start to the end of the warm-up. */
  def setup(names: Seq[String], jvmStart: Long, sessionMs: Long): Unit = {
    val ids = names.map(_.takeWhile(_ != '_')).toSet
    val qid = "q[0-9]+".r
    val read = Silver.tables.filter(_.consumers.exists(c => qid.findAllIn(c).exists(ids)))
    val built = read.map { t =>
      val t0 = System.nanoTime
      t.build(spark, dir).write.format("noop").mode("overwrite").save()
      t.name -> ms(t0, System.nanoTime)
    }
    val w0 = System.currentTimeMillis
    val warm = names.map(q => runOnce(q, None, df => check(q, df)))
    streams.take()
    emit("setup",
      "setup_s" -> (System.currentTimeMillis - jvmStart) / 1000.0,
      "session_s" -> sessionMs / 1000.0,
      "warm_s" -> (System.currentTimeMillis - w0) / 1000.0,
      "warm_ms" -> warm.map(r => r.q -> r.wallMs).toMap,
      "silver_ms" -> built.toMap,
      "silver_names" -> Silver.tables.map(_.name),
      "warm_errors" -> warm.flatMap(r => r.error.map(r.q -> _)).toMap)
  }

  /** Old generation after full collections: the live set. Each further
    * collection frees what the ContextCleaner released after the one
    * before (broadcast and shuffle blocks whose driver references had just
    * died); without the settling, a reading catches those blocks at random. */
  private def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / (1024.0 * 1024.0)
  }

  /** Temp dirs the Scoped barriers and silver builds leave behind. */
  private def scopedDirs(): Set[String] =
    Option(tmp.list()).map(_.toSet).getOrElse(Set.empty)
      .filter(n => n.startsWith("graft_mat_") || n.startsWith("graft_shared_"))

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length

  /** Union length of the job intervals that fall inside a window. */
  private def coveredMs(intervals: Seq[(Long, Long)], w: (Long, Long)): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, w._1), math.min(b, w._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      val s = math.max(a, end)
      if (b > s) covered += b - s
      end = math.max(end, b)
    }
    covered
  }

  private def batchesOf(r: Run, batches: Seq[Batch]): Seq[Batch] =
    batches.filter(b => b.startMs >= r.buildWindow._1 && b.startMs <= r.buildWindow._2)

  def timed(names: Seq[String], seed: Long, passes: Int, trace: Boolean): Unit = {
    for (pass <- 0 until passes) {
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(names)
      val traced = trace && pass % 2 == 1
      if (traced) sc.addSparkListener(jobs)
      val p0 = System.nanoTime
      val runs = order.map { q =>
        if (!traced) runOnce(q, None)
        else {
          val before = scopedDirs()
          val r = runOnce(q, Some(s"$pass|$q"))
          emit("layers", layers(r, pass, scopedDirs() -- before).toSeq: _*)
          r
        }
      }
      val passMs = ms(p0, System.nanoTime)
      Drain(sc)
      if (traced) sc.removeSparkListener(jobs)
      val batches = passBatches.toList ++ streams.take()._1
      passBatches.clear()
      runs.foreach { r =>
        emit("query", "pass" -> pass, "traced" -> traced, "q" -> r.q,
          "build_ms" -> r.buildMs, "plan_ms" -> r.planMs, "exec_ms" -> r.execMs,
          "wall_ms" -> r.wallMs, "error" -> r.error.orNull)
        batchesOf(r, batches).foreach { b =>
          emit("batch", "pass" -> pass, "traced" -> traced, "q" -> r.q,
            "trigger_ms" -> b.triggerMs, "rows" -> b.inputRows)
        }
      }
      emit("pass", "pass" -> pass, "traced" -> traced,
        "pass_s" -> passMs / 1000.0, "queries" -> runs.size)
    }
    emit("heap", "live_mb" -> liveHeapMb())
  }

  /** One traced query: every per-layer field, keyed as run.py names it.
    * `made` are the barrier and silver temp dirs the query created. */
  private def layers(r: Run, pass: Int, made: Set[String]): Map[String, Any] = {
    Drain(sc)
    val (accs, allJobs) = jobs.take()
    val (batches, starts) = streams.take()
    passBatches ++= batches
    val tag = s"$pass|${r.q}"
    val empty = new Acc
    val b = accs.getOrElse(s"$tag|build", empty)
    val p = accs.getOrElse(s"$tag|plan", empty)
    val e = accs.getOrElse(s"$tag|exec", empty)
    val phases = Seq(b, p, e)
    val untagged = accs.getOrElse(JobTracer.Untagged, empty).jobs
    val mine = batches.filter(x => x.startMs >= r.buildWindow._1)
    val lastPerStream = mine.groupBy(_.queryId).values.map(_.maxBy(_.startMs))
    val buildJobMs = coveredMs(b.intervals.toSeq, r.buildWindow)
    Map("pass" -> pass, "q" -> r.q, "error" -> r.error.orNull,
      "stream_starts" -> starts.count(_ >= r.buildWindow._1),
      "wall_ms" -> r.wallMs, "jobs_total" -> allJobs, "jobs_untagged" -> untagged,
      "jobs_build" -> b.jobs, "jobs_plan" -> p.jobs, "jobs_exec" -> e.jobs,
      "call_sites" -> phases.flatMap(_.sites).groupMapReduce(_._1)(_._2)(_ + _),
      "sources.infer_jobs" -> phases.map(_.inferJobs).sum,
      "sources.input_bytes" -> phases.map(_.inputBytes).sum,
      "sources.input_rows" -> phases.map(_.inputRows).sum,
      "operators.build_ms" -> r.buildMs,
      "operators.build_jobs" -> b.jobs,
      "operators.build_task_ms" -> b.taskMs,
      "operators.driver_ms" -> math.max(0.0, r.buildMs - buildJobMs),
      "operators.collect_jobs" -> b.collectJobs,
      "scoped.parquet_barriers" -> made.size,
      "scoped.temp_bytes" -> made.toSeq.map(n => bytesUnder(new File(tmp, n))).sum,
      "scoped.reread_infer_jobs" -> phases.map(_.scopedInferJobs).sum,
      "catalyst.plan_ms" -> r.planMs,
      "catalyst.analysis_ms" -> r.phases.getOrElse("analysis", 0.0),
      "catalyst.optimization_ms" -> r.phases.getOrElse("optimization", 0.0),
      "catalyst.planning_ms" -> r.phases.getOrElse("planning", 0.0),
      "exec.exec_ms" -> r.execMs,
      "exec.jobs" -> e.jobs, "exec.stages" -> e.stages, "exec.tasks" -> e.tasks,
      "exec.task_ms" -> e.taskMs,
      "exec.shuffle_read_bytes" -> e.shuffleRead,
      "exec.shuffle_write_bytes" -> e.shuffleWrite,
      "exec.spill_bytes" -> e.spill,
      "exec.failed_tasks" -> phases.map(_.failedTasks).sum,
      "exec.gc_ms" -> r.gcMs,
      "exec.peak_exec_mem_bytes" -> e.peakExecMem,
      "streaming.batches" -> mine.size,
      "streaming.nonempty_batches" -> mine.count(_.inputRows > 0),
      "streaming.batch_ms" -> mine.map(_.triggerMs).sum,
      "streaming.add_batch_ms" -> mine.map(_.addBatchMs).sum,
      "streaming.wal_commit_ms" -> mine.map(_.walCommitMs).sum,
      "streaming.query_planning_ms" -> mine.map(_.planningMs).sum,
      "streaming.input_rows" -> mine.map(_.inputRows).sum,
      "streaming.state_rows" -> lastPerStream.map(_.stateRows).sum,
      "streaming.state_mem_bytes" -> lastPerStream.map(_.stateMemBytes).sum,
      "streaming.state_commit_ms" -> mine.map(_.stateCommitMs).sum,
      "streaming.feed_jobs" -> phases.map(_.feedJobs).sum)
  }

  /** Row count and an order-insensitive digest over every column. */
  private def digest(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    // positional names: result columns may repeat a name or contain dots
    val cols = df.columns.indices.map(i => s"c$i")
    val h = xxhash64(to_json(struct(cols.map(col): _*)))
    val row = df.toDF(cols: _*).select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast(DecimalType(38, 0))), lit(0)).cast("string"))
      .head()
    (row.getLong(0), row.getString(1))
  }

  private def check(q: String, df: DataFrame): Unit =
    try {
      val (rows, d) = digest(df)
      emit("check", "q" -> q, "rows" -> rows, "digest" -> d)
    } catch {
      case e: Throwable => emit("check", "q" -> q, "error" -> errText(e))
    }

  /** Whole-surface census used to choose and freeze the workloads: every
    * query once untimed, then once traced. */
  def survey(names: Seq[String]): Unit = {
    sc.addSparkListener(jobs)
    names.foreach { q =>
      runOnce(q, None)
      Drain(sc); jobs.take(); streams.take()
      val before = scopedDirs()
      val r = runOnce(q, Some(s"0|$q"))
      emit("survey", layers(r, 0, scopedDirs() -- before).toSeq ++ Seq(
        "build_ms" -> r.buildMs, "plan_ms" -> r.planMs): _*)
    }
  }

  /** Results as parquet plus oracle_sql.json, the tools/check_oracle.py
    * layout, and each result's digest. */
  def dump(names: Seq[String], outDir: String): Unit = {
    graft.OracleContext.dir = dir
    val oracle = SparkEntry.oracleSql
    names.foreach { q =>
      try {
        val df = all(q)(spark, dir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        val (rows, d) = digest(df)
        emit("check", "q" -> q, "rows" -> rows, "digest" -> d, "has_oracle" -> oracle.contains(q))
      } catch {
        case e: Throwable => emit("check", "q" -> q, "error" -> errText(e))
      }
    }
    val sql = oracle.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json(sql))
  }
}
