package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call from the benchmark into a graft layer. Top-level spans
  * are operations (`setup`, `delivery`, `read`, `warmup`); their children
  * wrap the individual layer calls an operation makes. `op` is shared by a
  * span and all its descendants. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** In-memory span log of the single closed-loop client (one driver thread,
  * so spans nest strictly). Always on: the top-level spans are the
  * benchmark's own timings, and a span costs two clock reads. */
final class Spans {
  val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var curOp = -1
  private var nextOp = 0

  /** Runs `body` as one operation (a plain span when called inside
    * another, as set-up's warm-up reads are); returns its result and wall
    * seconds. */
  def op[T](name: String)(body: => T): (T, Double) = {
    if (stack.isEmpty) {
      curOp = nextOp
      nextOp += 1
    }
    val r = span(name)(body)
    (r, done.last.seconds)
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val (n0, m0) = (System.nanoTime(), System.currentTimeMillis())
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, parent, curOp, n0, System.nanoTime(), m0, System.currentTimeMillis())
    }
  }

  def ops(name: String): Seq[Span] = done.toSeq.filter(s => s.parent < 0 && s.name == name)
}

/** Task-metric totals of one stage (all attempts). */
final class StageTotals {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRecords = 0L; var outBytes = 0L; var outRecords = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
}

final case class JobRecord(id: Int, startMs: Long, site: String, stack: String,
                           stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
  /** The innermost graft or benchmark source file on the job's call-site
    * stack (the file that ran the action). */
  def file: String = JobRecord.Frame.findAllMatchIn(stack).map(_.group(1))
    .find(Layers.known).getOrElse(site.split(" at ").last.takeWhile(_ != ':'))
}

object JobRecord {
  private val Frame = raw"\((\w+\.scala):\d+\)".r
}

final case class Progress(startMs: Long, durations: Map[String, Long], inputRows: Long)

/** Spark's public listeners, registered by the benchmark for a traced run:
  * jobs with their call sites, per-stage task metrics, streaming progress,
  * and the planning phases of every query execution. */
final class Recorder(spark: SparkSession) {
  val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val executions = new ConcurrentHashMap[Long, (String, String)]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()
  val stagesRun = ConcurrentHashMap.newKeySet[Int]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  /** (planning end ms, analysis + optimization + planning seconds) */
  val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  private val jobListener = new SparkListener {
    // A job's result stage carries its call site: name = short form
    // ("collect at File.scala:12"), details = the long form (stack). Jobs
    // that Spark submits from its own threads (adaptive query stages,
    // broadcasts) have no user frame; they take the call site of the SQL
    // execution they belong to.
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val result = e.stageInfos.maxByOption(_.stageId)
      val own = (result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""))
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(executions.get(id.toLong)))
      val (site, stack) = if (own._1.contains(".scala:")) own else exec.getOrElse(own)
      jobs.put(e.jobId, JobRecord(e.jobId, e.time, site, stack, e.stageIds)): Unit
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executions.put(s.executionId, (s.description, s.details)): Unit
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stagesRun.add(e.stageInfo.stageId): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
          t.inBytes += m.inputMetrics.bytesRead; t.inRecords += m.inputMetrics.recordsRead
          t.outBytes += m.outputMetrics.bytesWritten; t.outRecords += m.outputMetrics.recordsWritten
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows)): Unit
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val secs = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum / 1e3
      val at = ph.get("planning").orElse(ph.values.headOption).map(_.endTimeMs)
      at.foreach(ms => plans.add((ms, secs)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  /** Waits for every queued event, then detaches the listeners. */
  def stop(): Unit = {
    org.apache.spark.BenchBusShim.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
  }

  def stageTotals(job: JobRecord): Seq[StageTotals] =
    job.stages.flatMap(s => Option(stages.get(s)))

  def stagesRunBy(job: JobRecord): Int = job.stages.count(stagesRun.contains)
}

/** Maps a Spark job to the graft module whose source file ran its action. */
object Layers {
  private val byFile = Map(
    "CowWriter.scala" -> "io.cow", "Compaction.scala" -> "io.cow",
    "CdcPipeline.scala" -> "io.pipeline", "MorTable.scala" -> "io.mor",
    "StatsIndex.scala" -> "io.stats", "SegmentedIndex.scala" -> "io.segidx",
    "Bucketing.scala" -> "io.segidx", "GraftLake.scala" -> "lake",
    "Controller.scala" -> "lake", "Discovery.scala" -> "lake",
    "CdcStream.scala" -> "streaming", "StreamManager.scala" -> "streaming",
    "Merge.scala" -> "cdc", "Retrieval.scala" -> "ops.retrieval",
    "Dedup.scala" -> "ops.dedup", "Similarity.scala" -> "ops.similarity")
  private val benchFiles = Set("Lake.scala", "Corpus.scala", "Main.scala")

  def known(file: String): Boolean = byFile.contains(file) || benchFiles(file)

  def module(job: JobRecord): String =
    byFile.getOrElse(job.file, if (benchFiles(job.file)) "bench" else "other")

  /** Seconds covered by the union of `intervals` (ms), clipped to [lo, hi]. */
  def unionSeconds(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }
}
