package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around one of the benchmark's calls into a layer
  * (epoch ms, sub-ms resolution).
  */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def wall: Double = (end - start) / 1000.0
}

/** Task-level totals of one Spark job. */
final class JobStats {
  var tasks = 0L
  var taskFailures = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

final case class JobRec(id: Int, site: String, layer: String, start: Long) {
  @volatile var end: Long = -1L
  val stats = new JobStats
}

/** The job side of the trace: a SparkListener that records every job's
  * interval, the engine layer its call site belongs to, and its tasks'
  * CPU, shuffle, spill and failure counts.
  */
final class JobRecorder extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    val (site, layer) = JobRecorder.attribute(details)
    val rec = JobRec(e.jobId, site, layer, e.time)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val s = j.stats
      s.synchronized {
        s.tasks += 1
        if (e.taskInfo != null && !e.taskInfo.successful) s.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Finished jobs that started inside [from, to] (epoch ms). */
  def jobsIn(from: Double, to: Double): Seq[JobRec] =
    jobs.values().asScala.toSeq
      .filter(j => j.end >= 0 && j.start >= math.floor(from) && j.start <= math.ceil(to))
      .sortBy(_.id)
}

object JobRecorder {

  /** The engine layer a job belongs to: the class of the innermost `graft`
    * frame in the job's recorded call stack.
    */
  private val Layers: Seq[(String, String)] = Seq(
    "graft.engine.BaselineStore" -> "baseline",
    "graft.engine.TableIO" -> "commit",
    "graft.engine.RenameCommitter" -> "commit",
    "graft.engine.ManifestCommitter" -> "commit",
    "graft.engine.Ledger" -> "ledger",
    "graft.engine.StatsPass" -> "stats",
    "graft.engine.Constraints" -> "constraints",
    "graft.engine.SaltedJoin" -> "constraints",
    "graft.engine.Validator" -> "validate",
    "graft.streaming" -> "ingest",
    "graft.operators" -> "curate")

  def attribute(callStack: String): (String, String) = {
    val frames = callStack.split("\n").map(_.trim)
    frames.find(_.startsWith("graft.")) match {
      case Some(f) =>
        (f, Layers.collectFirst { case (p, l) if f.startsWith(p) => l }.getOrElse("other"))
      case None =>
        (frames.find(_.startsWith("perfbench.")).getOrElse(frames.headOption.getOrElse("")), "bench")
    }
  }
}

/** Streaming progress of the ingest ticks (durations per trigger phase). */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e); ()
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Phase durations (s) summed over the progress events of `runId`. */
  def durations(runId: java.util.UUID): Map[String, Double] =
    progress.asScala.toSeq.filter(_.progress.runId == runId)
      .flatMap(_.progress.durationMs.asScala.toSeq)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2.longValue).sum / 1000.0 }
}

/** Spans kept in memory for the whole run and written out at the end. */
final class Tracer(val spark: SparkSession) {
  val jobs = new JobRecorder
  val streams = new ProgressRecorder
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)
  // plan descriptions keep the whole scan location, which ScanRows matches
  // on (the default cuts it at 100 characters); display only
  spark.conf.set("spark.sql.maxMetadataStringLength", "100000")

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Wall-clock ms with sub-ms resolution, on the listener's clock. */
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = nowMs
    try f
    finally {
      stack = stack.tail
      spans += Span(id, name, parent, start, nowMs)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  /** Spark jobs that ran inside span `s`. */
  def jobsOf(s: Span): Seq[JobRec] = jobs.jobsIn(s.start, s.end)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Total length of the union of intervals (ms → s). */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total / 1000.0
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfTime(s: Span): Double =
    s.wall - covered(children(s).map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))

  /** Wall time of `s` during which none of its Spark jobs ran. */
  def driverTime(s: Span): Double =
    s.wall - covered(jobsOf(s).map(j => (math.max(j.start.toDouble, s.start), math.min(j.end.toDouble, s.end))))

  def writeJson(path: java.nio.file.Path): Unit = {
    val spanRows = spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end))
    val jobRows = jobs.jobsIn(0, Double.MaxValue).map(j => Map("job" -> j.id, "layer" -> j.layer,
      "site" -> j.site, "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.stats.tasks,
      "task_failures" -> j.stats.taskFailures, "cpu_ns" -> j.stats.cpuNs,
      "shuffle_bytes" -> j.stats.shuffleBytes, "spill_bytes" -> j.stats.spillBytes))
    java.nio.file.Files.writeString(path,
      Util.json(Map("spans" -> spanRows, "jobs" -> jobRows)))
  }
}

/** Rows read by parquet scans of a table, from Spark SQL's own plan metrics. */
object ScanRows {
  def since(spark: SparkSession, sinceMs: Long, pathSuffix: String): Long = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.statusStore
    store.executionsList().filter(_.submissionTime >= sinceMs).map { e =>
      val values = store.executionMetrics(e.executionId)
      store.planGraph(e.executionId).allNodes
        .filter(n => n.name.startsWith("Scan") && n.desc.contains(pathSuffix + "]"))
        .flatMap(_.metrics.filter(_.name == "number of output rows"))
        .map(m => values.get(m.accumulatorId).map(_.filter(_.isDigit)).filter(_.nonEmpty)
          .map(_.toLong).getOrElse(0L))
        .sum
    }.sum
  }
}
