package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

/** What one workload does. The harness owns timing, the closed loop, file
  * accounting and metric reduction; a workload only calls graft. */
trait Workload {
  /** Change deliveries the generator prepared. */
  def deliveries: Int
  /** Deliveries (each with its read round) a run measures at least, and
    * whether an untimed read round warms the read path after set-up. */
  def minDeliveries: Int = 1
  def warmUpReads: Boolean = true
  /** Builds a fresh lake or index set from the staged inputs (one set-up
    * repetition); the last repetition's state is the one measured. */
  def setup(rep: Int): Unit
  /** Lands delivery `d` and applies it through graft; returns the change
    * rows applied. Throws when graft reports a failure. */
  def deliver(d: Int): Long
  /** Bytes of the change files delivery `d` landed. */
  def landedBytes(d: Int): Long
  /** One read round after delivery `d`; each read is one `spans.op(kind)`. */
  def readRound(d: Int, kind: String): Unit
  /** Directories holding the current set-up's lake or index data. */
  def storage: Seq[Path]
  /** Untimed: compares every recorded output with the independent model
    * after `last` deliveries; returns one message per mismatch. */
  def verify(last: Int): Seq[String]
  /** Untimed: bytes of the model's live rows written once as plain parquet. */
  def plainBytes(last: Int): Long
  /** Untimed health readouts of the storage layers (mask rows, segments…). */
  def health(): Map[String, Double]
  /** Rows returned by all reads so far (for rows-scanned ratios). */
  def rowsReturned: Long
  /** Untimed, traced runs only: (files a pruned read opens, files in the
    * table) summed over this round's pruned reads. */
  def prunedFiles(d: Int): (Long, Long)
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        gen: String, work: String, out: String, traceOut: String,
                        reps: Int, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("gen"), m("work"), m("out"), m("trace-out"), m.getOrElse("setup-reps", "3").toInt,
      m("cores").toInt)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Non-hidden files under `dirs`: path -> size. */
  def listing(dirs: Seq[Path]): Map[String, Long] =
    dirs.filter(Files.exists(_)).flatMap { d =>
      val w = Files.walk(d)
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".") && p.getFileName.toString != "_SUCCESS")
        .map(p => p.toString -> Files.size(p)).toList
      finally w.close()
    }.toMap

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(Paths.get(path).toFile)

  /** Runs independent untimed tasks (checks, reference writes) at once;
    * Spark schedules their jobs side by side. */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, tasks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graft-perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val spans = new Spans
    val w: Workload = a.workload match {
      case "lake_cow_batch" => new Lake(spark, spans, a.gen, a.work, mor = false)
      case "lake_mor_stream" => new Lake(spark, spans, a.gen, a.work, mor = true)
      case "corpus_index" => new Corpus(spark, spans, a.gen, a.work)
      case other => sys.error(s"unknown workload $other")
    }
    try run(spark, spans, w, a, sessionStart)
    finally spark.stop()
  }

  private def run(spark: SparkSession, spans: Spans, w: Workload, a: Args,
                  sessionStart: Double): Unit = {
    val setup = (0 until a.reps).map(rep => spans.op("setup")(w.setup(rep))._2)
    if (w.warmUpReads) w.readRound(0, "warmup") // untimed: measured reads run JIT-warm

    // Closed loop: one client; delivery d+1 is landed only after delivery d
    // and its read round have completed.
    val rec = new Recorder(spark)
    var firstTracedOp = Int.MaxValue
    var written = 0L; var landed = 0L; var replaced = 0L; var rows = 0L
    var failed = 0; var last = 0
    var tracedRows = 0L; var rowsAtTrace = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val mixes = mutable.ArrayBuffer.empty[Double]
    var files = listing(w.storage)
    var pruned = (0L, 0L)
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    // A delivery starts only if, at the pace of the previous delivery and
    // read round, both end within the measured window; the first always
    // runs. A traced run traces from its second delivery (or from half
    // time), so it always has an untraced and a traced part.
    var pace = 0.0
    val minDeliveries = math.max(w.minDeliveries, if (a.trace) 2 else 1)
    while ((last < minDeliveries || elapsed + pace <= a.seconds) && last < w.deliveries &&
        failed == 0) {
      val roundStart = elapsed
      val traced = firstTracedOp != Int.MaxValue
      if (a.trace && !traced && (last == 1 || elapsed >= a.seconds / 2)) {
        rec.start()
        firstTracedOp = spans.done.map(_.op).max + 1
        rowsAtTrace = w.rowsReturned
      }
      val d = last + 1
      try {
        val n = spans.op("delivery")(w.deliver(d))._1
        rows += n
        if (firstTracedOp != Int.MaxValue) tracedRows += n
        last = d
        landed += w.landedBytes(d)
        val now = listing(w.storage)
        written += now.iterator.collect { case (p, n) if !files.get(p).contains(n) => n }.sum
        replaced += files.keysIterator.count(p => !now.contains(p))
        files = now
        val mixStart = System.nanoTime()
        w.readRound(d, "read")
        mixes += (System.nanoTime() - mixStart) / 1e9
        if (firstTracedOp != Int.MaxValue) {
          val (r, t) = w.prunedFiles(d)
          pruned = (pruned._1 + r, pruned._2 + t)
        }
        pace = elapsed - roundStart
      } catch {
        case e: Exception =>
          failed += 1
          failures += s"delivery $d: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
      }
    }
    val loopSeconds = elapsed
    if (firstTracedOp != Int.MaxValue) rec.stop()

    // Retained state as a user would see it: no cache clearing, no unpersist.
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    val storageMem = sc.getRDDStorageInfo.map(_.memSize).sum
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val storedBytes = listing(w.storage).values.sum
    val verifyStart = System.nanoTime()
    val mismatches = if (last > 0) w.verify(last) else Seq("no delivery completed")
    mismatches.take(20).foreach(m => System.err.println(s"MISMATCH $m"))
    failures.foreach(f => System.err.println(s"FAILED $f"))
    val plain = w.plainBytes(last)
    val verifySeconds = (System.nanoTime() - verifyStart) / 1e9

    val deliveries = spans.ops("delivery")
    val reads = spans.ops("read")
    def untraced(xs: Seq[Span]) = xs.filter(_.op < firstTracedOp)
    def tracedOnly(xs: Seq[Span]) = xs.filter(_.op >= firstTracedOp)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (median(setup), "s")
      metrics("delivery_p50_s") = (median(deliveries.map(_.seconds)), "s")
      metrics("read_mix_p50_s") = (median(mixes.toSeq), "s")
      metrics("change_rows_per_s") = (rows / deliveries.map(_.seconds).sum, "rows/s")
      metrics("write_amp") = (written.toDouble / landed, "ratio")
      metrics("space_amp") = (storedBytes.toDouble / plain, "ratio")
      metrics("heap_retained_mb") = (heapMb, "MB")
    } else {
      val layer = new LayerMetrics(rec, spans, firstTracedOp, w, a.workload,
        tracedRows, w.rowsReturned - rowsAtTrace)
      layer.compute(metrics, pruned)
      metrics("storage.files_replaced") = (replaced.toDouble / math.max(1, deliveries.size), "count")
      metrics("spark.persisted_rdds") = (persisted.toDouble, "count")
      metrics("spark.storage_mem_bytes") = (storageMem.toDouble, "bytes")
      metrics("setup.session_start_s") = (sessionStart, "s")
      metrics("delivery.samples") = (tracedOnly(deliveries).size.toDouble, "count")
      metrics("read.samples") = (tracedOnly(reads).size.toDouble, "count")
      // tracing overhead: traced half minus untraced half of the same run
      metrics("trace.delivery_overhead_s") = (median(tracedOnly(deliveries).map(_.seconds)) -
        median(untraced(deliveries).map(_.seconds)), "s")
      metrics("trace.read_overhead_s") = (median(tracedOnly(reads).map(_.seconds)) -
        median(untraced(reads).map(_.seconds)), "s")
      layer.writeTrace(a.traceOut, metrics)
    }
    System.err.println(f"deliveries=${deliveries.size} reads=${reads.size} " +
      f"delivery_s=${deliveries.map(s => f"${s.seconds}%.2f").mkString(",")} " +
      f"read_s=${reads.map(s => f"${s.seconds}%.2f").mkString(",")} " +
      f"session=$sessionStart%.2fs loop=$loopSeconds%.2fs verify=$verifySeconds%.2fs setup=${setup.map(s => f"$s%.2f").mkString(",")} " +
      f"written=$written landed=$landed replaced=$replaced stored=$storedBytes plain=$plain")

    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    out.put("correct", mismatches.isEmpty && failed == 0)
    out.put("attempted", deliveries.size + reads.size)
    out.put("failed", failed + mismatches.size)
    val m = out.putObject("metrics")
    metrics.foreach { case (k, (v, unit)) =>
      val o = m.putObject(k)
      o.put("value", v)
      o.put("unit", unit)
    }
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(out))
  }
}
