package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Reduces a traced run's spans and listener records to per-layer metrics.
  *
  * Jobs belong to the operation whose span contains their start, and to the
  * innermost benchmark span there (`lake.sync`, `index.bm25.update`, …);
  * independently, each job belongs to the graft module whose source file
  * ran its action ([[Layers.module]]). Per-operation values are averages
  * over the traced operations of that kind. Module times are reported as
  * shares of executor or wall time, so a module a workload bypasses reads
  * an exact zero. */
final class LayerMetrics(rec: Recorder, spans: Spans, firstOp: Int, w: Workload,
                         workload: String, changeRows: Long, rowsReturned: Long) {
  private val traced = spans.done.toSeq.filter(_.op >= firstOp)
  private val ops = traced.filter(s => s.parent < 0 && (s.name == "delivery" || s.name == "read"))
  private val deliveries = ops.filter(_.name == "delivery")
  private val reads = ops.filter(_.name == "read")
  private val nd = math.max(1, deliveries.size).toDouble
  private val nr = math.max(1, reads.size).toDouble

  /** (job, its operation span, its innermost span) for jobs inside traced operations. */
  private val jobs: Seq[(JobRecord, Span, Span)] =
    rec.jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      ops.find(_.contains(j.startMs)).map { op =>
        val inner = traced.filter(s => s.op == op.op && s.contains(j.startMs))
          .minBy(s => (s.endMs - s.startMs, -s.id))
        (j, op, inner)
      }
    }

  private def totals(js: Seq[JobRecord]): StageTotals = {
    val t = new StageTotals
    js.flatMap(rec.stageTotals).distinct.foreach { s =>
      t.tasks += s.tasks; t.runMs += s.runMs; t.cpuNs += s.cpuNs; t.gcMs += s.gcMs
      t.inBytes += s.inBytes; t.inRecords += s.inRecords; t.outBytes += s.outBytes
      t.outRecords += s.outRecords; t.shuffleBytes += s.shuffleBytes; t.spillBytes += s.spillBytes
    }
    t
  }
  private def inOps(kind: String) = jobs.collect { case (j, op, _) if op.name == kind => j }
  private def inSpans(prefix: String) = jobs.collect { case (j, _, s) if s.name.startsWith(prefix) => j }
  private def ofModule(m: String) = jobs.collect { case (j, _, _) if Layers.module(j) == m => j }
  private def interval(j: JobRecord) = (j.startMs, if (j.endMs < 0) j.startMs else j.endMs)
  private def busy(js: Seq[JobRecord], within: Seq[Span]): Double =
    within.map(s => Layers.unionSeconds(js.map(interval), s.startMs, s.endMs)).sum
  private def wall(xs: Seq[Span]) = xs.map(_.seconds).sum
  private def share(a: Double, b: Double) = if (b > 0) a / b else 0.0
  private def plansIn(xs: Seq[Span]) =
    rec.plans.asScala.toSeq.collect { case (ms, s) if xs.exists(_.contains(ms)) => s }.sum

  def compute(m: mutable.LinkedHashMap[String, (Double, String)], pruned: (Long, Long)): Unit = {
    val allJobs = jobs.map(_._1)
    val allExec = totals(allJobs).runMs.toDouble
    for ((kind, xs, n) <- Seq(("delivery", deliveries, nd), ("read", reads, nr))) {
      val js = inOps(kind)
      val t = totals(js)
      m(s"$kind.jobs") = (js.size / n, "count")
      m(s"$kind.stages") = (js.map(rec.stagesRunBy).sum / n, "count")
      m(s"$kind.tasks") = (t.tasks / n, "count")
      m(s"$kind.exec_s") = (t.runMs / 1e3 / n, "s")
      m(s"$kind.plan_s") = (plansIn(xs) / n, "s")
      m(s"$kind.driver_gap_s") = (Main.median(xs.map(s =>
        s.seconds - Layers.unionSeconds(js.map(interval), s.startMs, s.endMs))), "s")
      m(s"$kind.bytes_scanned") = (t.inBytes / n, "bytes")
    }

    // lake facade: spans the benchmark puts around GraftLake calls
    val sync = inSpans("lake.sync")
    val lakeReads = inSpans("lake.read")
    val lr = totals(lakeReads)
    m("lake.sync.jobs") = (sync.size / nd, "count")
    m("lake.read.jobs") = (lakeReads.size / nr, "count")
    m("lake.read.bytes_scanned") = (lr.inBytes / nr, "bytes")
    m("lake.read.rows_scanned_per_row") = (share(lr.inRecords, rowsReturned), "ratio")

    // storage modules, by call-site file
    val cow = ofModule("io.cow"); val ct = totals(cow)
    m("io.pipeline.jobs") = (ofModule("io.pipeline").size / nd, "count")
    m("io.cow.jobs") = (cow.size / nd, "count")
    m("io.cow.exec_share") = (share(ct.runMs, allExec), "ratio")
    m("io.cow.shuffle_bytes") = (ct.shuffleBytes / nd, "bytes")
    m("io.cow.bytes_written") = (ct.outBytes / nd, "bytes")
    m("io.cow.rows_rewritten_per_change_row") = (share(ct.outRecords, changeRows), "ratio")
    val stats = ofModule("io.stats")
    val statsInDelivery = stats.filter(j => deliveries.exists(_.contains(j.startMs)))
    m("io.stats.refresh_jobs") = (statsInDelivery.size / nd, "count")
    m("io.stats.refresh_share") = (share(busy(statsInDelivery, deliveries), wall(deliveries)), "ratio")
    m("io.stats.files_skipped_ratio") =
      (if (pruned._2 > 0) 1.0 - pruned._1.toDouble / pruned._2 else 0.0, "ratio")
    val mor = ofModule("io.mor"); val mt = totals(mor)
    m("io.mor.jobs") = (mor.count(j => deliveries.exists(_.contains(j.startMs))) / nd, "count")
    m("io.mor.read_jobs") = (mor.count(j => reads.exists(_.contains(j.startMs))) / nr, "count")
    m("io.mor.exec_share") = (share(mt.runMs, allExec), "ratio")
    m("io.mor.bytes_written") = (mt.outBytes / nd, "bytes")

    // streaming: progress events of triggers that started inside a delivery
    // (the per-table streams run concurrently, so summed durations can
    // exceed the delivery's wall time; start_share uses their union)
    val prog = rec.progress.asScala.toSeq.filter(p => deliveries.exists(_.contains(p.startMs)))
    def dur(keys: String*) = prog.map(p => keys.flatMap(p.durations.get).sum).sum / 1e3
    val streamSpans = traced.filter(_.name == "lake.sync_streaming")
    val triggers = prog.map(p => (p.startMs, p.startMs + p.durations.getOrElse("triggerExecution", 0L)))
    val dw = wall(deliveries)
    m("streaming.jobs") = (ofModule("streaming").size / nd, "count")
    m("streaming.triggers") = (prog.size / nd, "count")
    m("streaming.trigger_share") = (share(dur("triggerExecution"), dw), "ratio")
    m("streaming.add_batch_share") = (share(dur("addBatch"), dw), "ratio")
    m("streaming.overhead_share") =
      (share(dur("latestOffset", "getBatch", "queryPlanning", "walCommit"), dw), "ratio")
    m("streaming.start_share") = (share(wall(streamSpans) -
      streamSpans.map(sp => Layers.unionSeconds(triggers, sp.startMs, sp.endMs)).sum, dw), "ratio")

    // segmented indexes: spans around each family's update call
    for (f <- Seq("bm25", "phrase", "lsh", "ivf")) {
      val sp = traced.filter(_.name == s"index.$f.update")
      m(s"index.$f.jobs") = (inSpans(s"index.$f.update").size / nd, "count")
      m(s"index.$f.update_share") = (share(wall(sp), dw), "ratio")
    }
    m("index.probe.jobs") = (inSpans("index.probe").size / nr, "count")
    m("io.segidx.jobs") = (ofModule("io.segidx").size / nd, "count")
    w.health().foreach { case (k, v) => m(k) = (v, if (k.endsWith("fraction")) "ratio" else "count") }

    // Spark totals per operation (delivery or read)
    val t = totals(allJobs)
    val n = math.max(1, ops.size).toDouble
    m("spark.jobs") = (allJobs.size / n, "count")
    m("spark.stages") = (allJobs.map(rec.stagesRunBy).sum / n, "count")
    m("spark.tasks") = (t.tasks / n, "count")
    m("spark.exec_cpu_s") = (t.cpuNs / 1e9 / n, "s")
    m("spark.gc_share") = (share(t.gcMs, t.runMs), "ratio")
    m("spark.input_bytes") = (t.inBytes / n, "bytes")
    m("spark.output_bytes") = (t.outBytes / n, "bytes")
    m("spark.shuffle_bytes") = (t.shuffleBytes / n, "bytes")
    m("spark.spill_bytes") = (t.spillBytes / n, "bytes")
  }

  /** Writes spans, attributed jobs, per-layer self time and per-module work. */
  def writeTrace(path: String, metrics: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("workload", workload)
    val sp = root.putArray("spans")
    traced.foreach { s =>
      sp.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("op", s.op).put("start_ms", s.startMs).put("end_ms", s.endMs).put("seconds", s.seconds)
    }
    val js = root.putArray("jobs")
    jobs.foreach { case (j, op, inner) =>
      val t = totals(Seq(j))
      js.addObject().put("id", j.id).put("call_site", j.site).put("module", Layers.module(j))
        .put("op", op.op).put("span", inner.name).put("start_ms", j.startMs).put("end_ms", j.endMs)
        .put("stages", rec.stagesRunBy(j)).put("tasks", t.tasks).put("exec_ms", t.runMs)
        .put("input_bytes", t.inBytes).put("output_bytes", t.outBytes)
        .put("shuffle_bytes", t.shuffleBytes)
    }
    // self time: a span's wall time minus what its (sequential) children cover
    val self = root.putObject("self_seconds_by_span")
    traced.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, xs) =>
      self.put(name, xs.map(s => s.seconds - traced.filter(_.parent == s.id).map(_.seconds).sum).sum)
    }
    val mods = root.putObject("modules")
    jobs.map(_._1).groupBy(Layers.module).toSeq.sortBy(_._1).foreach { case (mod, xs) =>
      val t = totals(xs)
      mods.putObject(mod).put("jobs", xs.size).put("exec_s", t.runMs / 1e3)
        .put("busy_s", busy(xs, ops)).put("output_bytes", t.outBytes)
        .put("shuffle_bytes", t.shuffleBytes).put("input_bytes", t.inBytes)
    }
    val mm = root.putObject("metrics")
    metrics.foreach { case (k, (v, u)) => mm.putObject(k).put("value", v).put("unit", u) }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), mapper.writerWithDefaultPrettyPrinter.writeValueAsString(root))
  }
}
