package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}
import scala.collection.mutable

/** Per-layer counters for one `bench.tag` value (`<query>|<phase>`). */
final class Acc {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, shuffleRead, shuffleWrite, spill, inputBytes, inputRows = 0L
  var peakExecMem = 0L
  var inferJobs, scopedInferJobs, feedJobs, collectJobs = 0L
  /** jobs per call site: Spark API frame and first program frame, both
    * without line numbers */
  val sites = mutable.HashMap.empty[String, Int]
  /** [start, end] wall-clock ms of every finished job */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One micro-batch, as reported by a streaming progress event. */
final case class Batch(
    startMs: Long, triggerMs: Long, addBatchMs: Long, walCommitMs: Long,
    planningMs: Long, inputRows: Long, stateRows: Long, stateMemBytes: Long,
    stateCommitMs: Long, queryId: String)

/** Job-level attribution by the `bench.tag` local property.
  *
  * A job's call site is the long call-site form of the SQL execution it
  * belongs to, or of its final stage when it belongs to none (schema
  * inference runs outside any execution). Adaptive execution launches
  * most stage jobs from a pool thread whose own stack holds no program
  * frame, so only the execution still names the action that caused them.
  * The first line of the form is the outermost Spark API frame the program
  * called, the second the first program frame. Both are matched by class
  * and method only, never by line number, so the counters survive edits
  * of the files they watch.
  */
final class JobTracer extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Acc]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val execSite = mutable.HashMap.empty[Long, String]
  private var allJobs = 0L

  private def acc(tag: String): Acc = byTag.getOrElseUpdate(tag, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    allJobs += 1
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobTracer.TagKey)))
      .getOrElse(JobTracer.Untagged)
    val a = acc(tag)
    a.jobs += 1
    jobTag(e.jobId) = (tag, e.time)
    e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
    if (e.stageInfos.nonEmpty) {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = exec.flatMap(execSite.get)
        .getOrElse(e.stageInfos.maxBy(_.stageId).details).split('\n')
      val api = site.headOption.getOrElse("")
      val user = if (site.length > 1) site(1) else ""
      val key = s"${JobTracer.frame(api)} <- ${JobTracer.frame(user)}"
      a.sites(key) = a.sites.getOrElse(key, 0) + 1
      if (JobTracer.ReaderApi.findFirstIn(api).isDefined) {
        a.inferJobs += 1
        if (JobTracer.ScopedSite.findFirstIn(user).isDefined) a.scopedInferJobs += 1
      }
      if (JobTracer.FeedSite.findFirstIn(user).isDefined) a.feedJobs += 1
      if (JobTracer.ActionApi.findFirstIn(api).isDefined && user.startsWith("graft."))
        a.collectJobs += 1
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSite(s.executionId) = s.details }
    case s: SparkListenerSQLExecutionEnd => synchronized { execSite.remove(s.executionId) }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, t0) =>
      acc(tag).intervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(t => acc(t).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageTag.getOrElse(e.stageId, JobTracer.Untagged))
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.taskMs += m.executorRunTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Removes and returns the counters of every tag, plus the number of
    * jobs seen since the last call whatever their tag. */
  def take(): (Map[String, Acc], Long) = synchronized {
    val out = (byTag.toMap, allJobs)
    byTag.clear(); allJobs = 0L
    out
  }
}

object JobTracer {
  val TagKey = "bench.tag"
  val Untagged = "untagged"
  /** `pkg.Class.method(File.scala:12)` without its line number */
  def frame(line: String): String = line.replaceAll(":[0-9]+\\)$", ")")
  /** a job launched from inside DataFrameReader is a schema-inference or
    * file-listing read */
  private val ReaderApi = """\.DataFrameReader\.\w+\(""".r
  private val ScopedSite =
    """^graft\.operators\.Scoped\$\.(\$anonfun\$)?(materialize|shared)\b""".r
  private val FeedSite =
    """^graft\.streaming\.Streams\$\.(\$anonfun\$)?(writeChunkedFeed|replayBy\w+)\b""".r
  private val ActionApi =
    """\.(Dataset|RDD)\.(collect\w*|count|first|head|take\w*|tail|isEmpty|reduce|toLocalIterator)\(""".r
}

/** Streaming progress and query starts, heard on the SparkContext bus so
  * the cloned sessions the stream builders use are seen as well. */
final class StreamTracer extends SparkListener {
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val starts = mutable.ArrayBuffer.empty[Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val pr = p.progress
      def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = pr.stateOperators.toSeq
      batches += Batch(
        java.time.Instant.parse(pr.timestamp).toEpochMilli,
        d("triggerExecution"), d("addBatch"), d("walCommit"), d("queryPlanning"),
        pr.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, pr.id.toString)
    }
    case s: QueryStartedEvent => synchronized {
      starts += java.time.Instant.parse(s.timestamp).toEpochMilli
    }
    case _ => ()
  }

  def take(): (Seq[Batch], Seq[Long]) = synchronized {
    val out = (batches.toList, starts.toList)
    batches.clear(); starts.clear()
    out
  }
}
