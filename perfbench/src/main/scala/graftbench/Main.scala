package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, traceOut: String)

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer, val listener: LayerListener) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Layer probes skipped for lack of time. */
  val skipped: scala.collection.mutable.ArrayBuffer[String] = scala.collection.mutable.ArrayBuffer.empty
  def dir(name: String): String = Paths.get(opts.work, name).toString
}

/** Calls the run makes: untimed preparation (inputs and reference), the
  * call itself, and an output check afterwards. */
abstract class Calls(val ctx: Ctx) {
  def prepare(): Unit
  def call(i: Int): Unit
  /** Untimed work after call `i` (cleanup, per-call observations). */
  def afterCall(i: Int, traced: Boolean): Unit = ()
  /** Mismatches between the outputs and the reference; empty = correct. */
  def check(): Seq[String]
  /** Lines for the human-readable report. */
  def describe(): Seq[String] = Nil
}

/** What a timed workload adds to its calls. */
trait Timed { this: Calls =>
  /** Warm-up calls made before the timed loop. */
  def warmCalls: Int
  /** Timed calls always made; the timed loop also lasts `--seconds`. */
  def minTimedCalls: Int
  /** Pages per call, for `pages_per_s`. */
  def units: Double
  /** Extra calls the check made (they count as attempted). */
  def checkCalls: Int = 0
  /** Per-layer metrics this workload measures itself (traced run). */
  def layers(): Seq[(String, Double, String)]
  /** Bytes of the workload's input on disk, for read amplification. */
  def inputBytesOnDisk: Long
  /** Docs for the kernel phase split. */
  def kernelSample(): IndexedSeq[graft.model.RawDoc]
}

object Main {
  /** The session `graft.Cli` builds: local[nproc], shuffle partitions =
    * cores, AQE on, UTC, UI off. No benchmark-only tuning. */
  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.getOrElse("trace-out", ""))
  }

  /** Seconds from JVM start until a fresh session is ready. */
  def coldSetup(): (SparkSession, Double) = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val spark = session()
    (spark, System.currentTimeMillis() / 1e3 - jvmStartS)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val (spark, setupS) = coldSetup()
    val tracer = new Tracer(spark.sparkContext, opts.trace,
      s"${opts.workload}-seed${opts.seed}-${java.util.UUID.randomUUID().toString.take(8)}")
    val ctx = new Ctx(spark, opts, tracer, new LayerListener)
    val status =
      try Runner.run(ctx, setupS)
      finally spark.stop()
    sys.exit(status)
  }
}

/** One more cold set-up sample, in a JVM of its own: JVM start until the
  * session is ready, written to the file named by the only argument. */
object SetupProbe {
  def main(args: Array[String]): Unit = {
    val (spark, setupS) = Main.coldSetup()
    spark.stop()
    Files.writeString(Paths.get(args(0)), setupS.toString)
  }
}
