package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Warm-up, timed loop, check, layer probes and result file of one run. */
object Runner {
  /** The warm-up counts as converged when neither of its last two calls
    * was this much faster than the best call before it. */
  val WarmGain = 0.03
  /** Untraced and traced calls a traced run makes at least, each. */
  val TracedCallsEach = 2
  /** Seconds the single-threaded kernel split may take. */
  val KernelBudgetS = 2.0

  def workload(ctx: Ctx): Calls with Timed = ctx.opts.workload match {
    case "mixed_to_table" => new MixedToTable(ctx)
    case "giants_split" => new GiantsSplit(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Every per-layer metric, so each traced run reports the full set; a
    * layer a workload does not exercise reads 0. */
  def layerDefaults: Seq[(String, String)] =
    Seq("kernel.paginate_s", "kernel.parse_s", "kernel.page_s", "kernel.merge_s", "kernel.clean_s",
      "kernel.project_s").map(_ -> "s") ++
    Seq("kernel.pages_per_cpu_s" -> "1/s", "kernel.unaccounted_frac" -> "ratio",
      "pipeline.contract_s" -> "s", "pipeline.jobs" -> "count", "pipeline.stages" -> "count",
      "pipeline.tasks" -> "count", "pipeline.task_failures" -> "count", "pipeline.scans" -> "count",
      "pipeline.task_run_s" -> "s", "pipeline.task_cpu_s" -> "s", "pipeline.gc_s" -> "s",
      "pipeline.cpu_util" -> "ratio", "pipeline.shuffle_write_bytes" -> "bytes",
      "pipeline.shuffle_read_bytes" -> "bytes", "pipeline.spill_bytes" -> "bytes",
      "io.scan_s" -> "s", "io.scan_read_bytes" -> "bytes", "io.read_bytes" -> "bytes",
      "io.read_unexplained_bytes" -> "bytes", "io.read_amplification" -> "ratio", "io.sink_s" -> "s",
      "io.files_written" -> "count", "io.write_bytes" -> "bytes") ++
    graft.SparkEntry.queries.keys.toSeq.sorted.map(q => s"ops.${q}_s" -> "s") ++
    Seq("ops.jobs" -> "count", "ops.shuffle_bytes" -> "bytes",
      "streaming.batches" -> "count", "streaming.add_batch_ms" -> "ms", "streaming.overhead_ms" -> "ms",
      "streaming.planning_ms" -> "ms", "streaming.rows_per_batch" -> "count",
      "first_run_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  /** Whether the last call of `xs` was not [[WarmGain]] faster than the
    * best call before it. */
  private def stalled(xs: collection.Seq[Double]): Boolean =
    xs.length >= 2 && xs.last > (1 - WarmGain) * xs.init.min

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq

  /** (steal, total) jiffies of all CPUs so far, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  private def fmt(xs: Iterable[Double]): String = xs.map(x => f"$x%.3f").mkString(", ")

  def run(ctx: Ctx, setupS: Double): Int = {
    val opts = ctx.opts
    val sc = ctx.spark.sparkContext
    val tr = ctx.tracer
    val w = workload(ctx)
    val report = mutable.ArrayBuffer.empty[String]
    val errors = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    var attempted = 0
    var failed = 0
    var callNo = 0
    val warm = mutable.ArrayBuffer.empty[Double]
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val tracedTotals = mutable.ArrayBuffer.empty[JobTotals]
    val phases = mutable.ArrayBuffer.empty[(String, Double)]
    val inputRead = mutable.ArrayBuffer.empty[Double]
    val steal = mutable.ArrayBuffer.empty[Double]

    /** One call, traced or not; None when it threw. */
    def oneCall(useTrace: Boolean): Option[Double] = {
      val i = callNo
      callNo += 1
      attempted += 1
      if (useTrace) sc.addSparkListener(ctx.listener)
      val rchar0 = Util.readChars()
      val (steal0, total0) = cpuJiffies()
      val t =
        try Some(Util.timed {
          if (useTrace) tr.span("rep " + i)(tr.span("timed_call")(w.call(i))) else tr.quiet(w.call(i))
        }._2)
        catch {
          case e: Throwable =>
            e.printStackTrace()
            failed += 1
            errors += s"call $i: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            None
        }
      if (useTrace) {
        org.apache.spark.graftbench.ListenerBusDrain(sc)
        sc.removeSparkListener(ctx.listener)
        if (t.isDefined) {
          val tot = ctx.listener.totals(tr.subtree(tr.lastId("timed_call")))
          tracedTotals += tot
          // Spark's input metrics miss parquet's vectored reads, so input
          // bytes are the process's read() bytes less shuffle reads
          inputRead += math.max(0L, Util.readChars() - rchar0 - tot.shuffleRead).toDouble
        }
      }
      val (steal1, total1) = cpuJiffies()
      if (total1 > total0) steal += (steal1 - steal0).toDouble / (total1 - total0)
      w.afterCall(i, useTrace)
      t
    }

    tr.span("run") {
      tr.span("workload " + opts.workload) {
        val (_, prepS) = Util.timed(tr.span("prepare")(w.prepare()))
        phases += "prepare" -> prepS
        heapPools.foreach(_.resetPeakUsage())

        // warm-up: a fixed number of calls, so that every run times the same
        // point of the warm-up curve; whether the calls had stopped getting
        // faster is reported
        val warmStart = Util.nowS()
        while (warm.length < w.warmCalls && failed < 2) oneCall(useTrace = false).foreach(warm += _)
        phases += "warm-up" -> (Util.nowS() - warmStart)
        if (warm.nonEmpty) report += f"first_run_s: ${warm.head}%.3f s (the first call in this JVM)"
        val converged = warm.length >= 3 && stalled(warm) && stalled(warm.init)
        report += s"warm-up calls: ${fmt(warm)} s (${if (converged) "converged" else "not converged"}; converged = " +
          f"neither of the last two calls was ${WarmGain * 100}%.0f%% faster than the best before it)"

        // timed loop; a traced run alternates untraced and traced calls in
        // the order U T T U, so a drift in speed hits both alike
        val loopStart = Util.nowS()
        val need = if (opts.trace) TracedCallsEach else w.minTimedCalls
        var k = 0
        while (failed < 2 && (Util.nowS() - loopStart < opts.seconds || plain.length < need ||
            (opts.trace && traced.length < need))) {
          val useTrace = opts.trace && (k % 4 == 1 || k % 4 == 2)
          oneCall(useTrace).foreach(t => if (useTrace) traced += t else plain += t)
          k += 1
        }

        phases += "timed" -> (Util.nowS() - loopStart)
        val checkStart = Util.nowS()
        val mismatches =
          try w.check()
          catch { case e: Throwable => Seq(s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        attempted += w.checkCalls
        if (mismatches.nonEmpty) failed += 1
        errors ++= mismatches

        phases += "check" -> (Util.nowS() - checkStart)
        if (opts.trace && errors.isEmpty) {
          val layerStart = Util.nowS()
          layerDefaults.foreach { case (n, u) => put(n, 0.0, u) }
          val kernel = KernelSplit.run(w.kernelSample(), KernelBudgetS)
          if (!kernel.spansMatch) errors += "kernel phase replay emitted other spans than Extractor.extractDoc"
          val ph = kernel.phases
          put("kernel.paginate_s", ph.paginate, "s")
          put("kernel.parse_s", ph.parse, "s")
          put("kernel.page_s", ph.page, "s")
          put("kernel.merge_s", ph.merge, "s")
          put("kernel.clean_s", ph.clean, "s")
          put("kernel.project_s", ph.project, "s")
          put("kernel.pages_per_cpu_s", kernel.pages / kernel.extractDocS, "1/s")
          put("kernel.unaccounted_frac", kernel.unaccountedFrac, "ratio")
          report += f"kernel sample: ${kernel.pages} pages, extractDoc ${kernel.extractDocS}%.3f s, phases ${kernel.phases.sum}%.3f s"

          def med(f: JobTotals => Double) = Util.median(tracedTotals.toSeq.map(f))
          put("pipeline.jobs", med(_.jobs.toDouble), "count")
          put("pipeline.stages", med(_.stages.toDouble), "count")
          put("pipeline.tasks", med(_.tasks.toDouble), "count")
          put("pipeline.task_failures", med(_.taskFailures.toDouble), "count")
          put("pipeline.scans", med(_.scans.toDouble), "count")
          put("pipeline.task_run_s", med(_.runS), "s")
          put("pipeline.task_cpu_s", med(_.cpuS), "s")
          put("pipeline.gc_s", med(_.gcS), "s")
          put("pipeline.cpu_util", med(_.cpuS) / (Util.median(traced.toSeq) * ctx.cores), "ratio")
          put("pipeline.shuffle_write_bytes", med(_.shuffleWrite.toDouble), "bytes")
          put("pipeline.shuffle_read_bytes", med(_.shuffleRead.toDouble), "bytes")
          put("pipeline.spill_bytes", med(_.spill.toDouble), "bytes")
          put("io.read_bytes", Util.median(inputRead.toSeq), "bytes")
          put("io.write_bytes", med(_.writeBytes.toDouble), "bytes")
          if (w.inputBytesOnDisk > 0) put("io.read_amplification", Util.median(inputRead.toSeq) / w.inputBytesOnDisk, "ratio")
          sc.addSparkListener(ctx.listener)
          try w.layers().foreach { case (n, v, u) => put(n, v, u) }
          catch {
            case e: Throwable =>
              e.printStackTrace()
              errors += s"layer probe failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          }
          finally {
            org.apache.spark.graftbench.ListenerBusDrain(sc)
            sc.removeSparkListener(ctx.listener)
          }
          // calibration of io.read_bytes: what the call's scans account for
          // at the bytes one probe scan read, and the rest
          val scanRead = metrics("io.scan_read_bytes")._1
          put("io.read_unexplained_bytes", metrics("io.read_bytes")._1 - metrics("pipeline.scans")._1 * scanRead, "bytes")
          if (w.inputBytesOnDisk > 0) report += f"io calibration: one noop scan read ${scanRead / w.inputBytesOnDisk}%.2f× " +
            f"the input; a timed call read ${metrics("io.read_bytes")._1 / math.max(1.0, scanRead)}%.2f scans' worth " +
            f"for ${metrics("pipeline.scans")._1}%.0f executed scans"
          put("first_run_s", warm.head, "s")
          put("jvm.heap_peak_mb", heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
          put("trace.overhead_frac", Util.median(traced.toSeq) / Util.median(plain.toSeq) - 1, "ratio")
          phases += "layer probes" -> (Util.nowS() - layerStart)
          if (ctx.skipped.nonEmpty)
            report += s"skipped for time (their metrics read 0): ${ctx.skipped.mkString(", ")}"
        }
      }
    }

    val correct = errors.isEmpty && plain.nonEmpty && warm.nonEmpty && failed == 0
    if (!correct) metrics.clear()
    else if (!opts.trace) {
      val wall = Util.median(plain.toSeq)
      put("wall_s", wall, "s")
      put("setup_s", setupS, "s")
      put("pages_per_s", w.units / wall, "pages/s")
    }

    report.prepend(
      s"workload ${opts.workload}, seed ${opts.seed}, trace ${if (opts.trace) 1 else 0}, ${ctx.cores} cores",
      "session config: " + sc.getConf.getAll.filter { case (k, _) =>
        (k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir") || k == "spark.master" || k == "spark.ui.enabled"
      }.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "),
      f"set-up (JVM start to session ready): $setupS%.3f s")
    report += s"timed calls: ${plain.length} untraced (${fmt(plain)} s)" +
      (if (opts.trace) s", ${traced.length} traced (${fmt(traced)} s)" else "")
    report += "phase seconds: " + phases.map { case (n, v) => f"$n $v%.1f" }.mkString(", ")
    if (steal.nonEmpty) report += f"CPU steal during calls: median ${Util.median(steal.toSeq) * 100}%.1f%%, max ${steal.max * 100}%.1f%%"
    report += f"failed_frac: ${failed.toDouble / math.max(1, attempted)}%.4f ($failed of $attempted calls)"
    report ++= w.describe()
    errors.foreach(e => report += "ERROR " + e)

    if (opts.trace && opts.traceOut.nonEmpty) {
      val p = Paths.get(opts.traceOut)
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.writeString(p, tr.toJson(ctx.listener.jobSpanRecs(1L << 40)))
    }

    val json = Util.jobj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Util.jobj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Util.jobj(Seq("value" -> Util.jnum(v), "unit" -> Util.jstr(u)))
      }),
      "report" -> Util.jarr(report.toSeq.map(Util.jstr))))
    Files.writeString(Paths.get(opts.work, "result.json"), json)
    if (correct) 0 else 1
  }
}
