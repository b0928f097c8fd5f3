package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.model.{ExtractConfig, RawDoc}
import graft.pipeline.Extract
import graft.streaming.StreamingExtract

/** Shared parts of the extraction workloads and the streaming probe: a
  * seeded corpus written as parquet, its driver-side reference, and the
  * layer probes over it. */
abstract class ExtractionCalls(ctx: Ctx, sub: String) extends Calls(ctx) {
  protected def specs(): IndexedSeq[DocSpec]
  protected def inputFiles: Int = 2 * ctx.cores
  protected def path(name: String): String = ctx.dir(s"$sub/$name")
  protected val inPath: String = path("input.parquet")
  protected var docSpecs: IndexedSeq[DocSpec] = IndexedSeq.empty
  protected var expected: Expected = _
  protected var inputBytes = 0L
  private var prepNote = ""
  protected val spark = ctx.spark
  protected val tr = ctx.tracer
  /** `graft.Cli extract`'s config: the default, engine core, validated. */
  protected val cfg: ExtractConfig = { val c = ExtractConfig.default.copy(engine = "core"); c.validate(); c }

  def prepare(): Unit = {
    val (_, specS) = Util.timed { docSpecs = specs() }
    val (_, writeS) = Util.timed(Corpus.write(spark, docSpecs, inputFiles, inPath))
    inputBytes = Util.byteSize(Paths.get(inPath))
    val (_, refS) = Util.timed { expected = Corpus.reference(docSpecs) }
    prepNote = f"prepare: specs $specS%.1f s, parquet $writeS%.1f s, reference $refS%.1f s"
  }

  def units: Double = expected.pages.toDouble

  /** Every k-th doc in doc-id order, about a hundred docs. */
  def kernelSample(): IndexedSeq[RawDoc] = {
    val docs = docSpecs.filter(!_.nullId).sortBy(_.id)
    val k = math.max(1, docs.length / 100)
    docs.indices.filter(_ % k == 0).map(i => Corpus.build(docs(i)))
      .filter(d => d.spans != null && !d.spans.contains(null))
  }

  protected def compare(got: Expected, what: String): Seq[String] =
    if (got == expected) Nil else Seq(s"$what: got $got, expected $expected")

  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Noop scan of (doc_id, spans), the whole input: median seconds and
    * median bytes the process read (`rchar`), of three scans. */
  protected def scan(): (Double, Double) = {
    val runs = (1 to 3).map { _ =>
      val r0 = Util.readChars()
      val (_, t) = Util.timed(tr.span("io.scan")(noop(spark.read.parquet(inPath).select("doc_id", "spans"))))
      (t, (Util.readChars() - r0).toDouble)
    }
    (Util.median(runs.map(_._1)), Util.median(runs.map(_._2)))
  }

  /** Contract -> noop over the input, median of three. */
  protected def contractS(): Double =
    Util.median((1 to 3).map(_ => Util.timed(tr.span("pipeline.contract")(noop(Extract.extractContract(spark.read.parquet(inPath), cfg))))._2))

  def layers(): Seq[(String, Double, String)] = {
    val (scanS, scanBytes) = scan()
    Seq(("io.scan_s", scanS, "s"), ("io.scan_read_bytes", scanBytes, "bytes"), ("pipeline.contract_s", contractS(), "s"))
  }

  def inputBytesOnDisk: Long = inputBytes

  override def describe(): Seq[String] = Seq(
    s"input: ${docSpecs.length} docs, ${expected.pages} pages of non-quarantined docs, $inputBytes bytes in $inputFiles files; " +
      s"quarantine ${expected.quarantine.filter(_._2 > 0)}", prepNote)
}

/** The production batch job: the call sequence of `graft.Cli extract ...
  * structured` into a fresh directory per call. */
final class MixedToTable(ctx: Ctx) extends ExtractionCalls(ctx, "mixed") with Timed {
  val Docs = 2000
  def warmCalls: Int = 3
  def minTimedCalls: Int = 3
  protected def specs(): IndexedSeq[DocSpec] = Corpus.mixed(ctx.opts.seed, Docs)
  private def out(i: Int) = path(s"out/call-$i")
  private var lastOut = -1
  private var filesWritten = Seq.empty[Long]

  def call(i: Int): Unit = {
    val o = out(i)
    val in = tr.span("io.read")(spark.read.parquet(inPath))
    val result = tr.span("pipeline.extractContract")(Extract.extractContract(in, cfg))
    val (good, bad) = tr.span("io.splitQuarantine")(Sinks.splitQuarantine(result))
    tr.span("io.writeSpansBucketed")(Sinks.writeSpansBucketed(good, s"$o/spans"))
    tr.span("io.quarantineJson")(bad.write.mode("overwrite").json(s"$o/quarantine"))
  }

  override def afterCall(i: Int, traced: Boolean): Unit = {
    if (traced) filesWritten :+= Util.fileCount(Paths.get(out(i)))
    if (lastOut >= 0) Util.deleteRecursively(Paths.get(out(lastOut)))
    lastOut = i
  }

  def check(): Seq[String] = {
    if (lastOut < 0) return Seq("no output to check")
    val o = out(lastOut)
    val good = spark.read.parquet(s"$o/spans")
      .select(col("doc_id"), col("spans"), col("num_pages"), lit(false).as("quarantined"), col("error_code"))
    val bad = spark.read.schema(Extract.ContractSchema).json(s"$o/quarantine")
      .select(col("doc_id"), col("spans"), col("num_pages"), col("quarantined"), col("error_code"))
    compare(Corpus.summarize(good.unionByName(bad)), "written span table + quarantine")
  }

  /** Sink calls only, over a contract table materialized untimed. */
  private def sinkS(): Double = {
    val mat = path("contract.parquet")
    Extract.extractContract(spark.read.parquet(inPath), cfg).write.mode("overwrite").parquet(mat)
    val s = Util.median((1 to 2).map { k =>
      val o = path(s"sink-$k")
      val (_, t) = Util.timed(tr.span("io.sink") {
        val (good, bad) = Sinks.splitQuarantine(spark.read.parquet(mat))
        Sinks.writeSpansBucketed(good, s"$o/spans")
        bad.write.mode("overwrite").json(s"$o/quarantine")
      })
      Util.deleteRecursively(Paths.get(o))
      t
    })
    Util.deleteRecursively(Paths.get(mat))
    s
  }

  override def layers(): Seq[(String, Double, String)] = super.layers() ++ Seq(
    ("io.sink_s", sinkS(), "s"),
    ("io.files_written", Util.median(filesWritten.map(_.toDouble)), "count")) ++
    // an unloaded 4-core host gets here at about 60 s; the probe takes about 10 s
    Probe.ifTime(ctx, "probe streaming", startByS = 120)(
      Probe.twoCalls(new StreamFiles(ctx, numFiles = 10, docsPerFile = 25), "probe streaming").streamingMetrics())
}

/** Giant docs that take the page-split leg; the sink is bypassed. */
final class GiantsSplit(ctx: Ctx) extends ExtractionCalls(ctx, "giants") with Timed {
  val Giants = 24
  val SmallDocs = 1000
  def warmCalls: Int = 7
  def minTimedCalls: Int = 4
  protected def specs(): IndexedSeq[DocSpec] = Corpus.giants(ctx.opts.seed, Giants, SmallDocs)
  def call(i: Int): Unit = {
    val in = tr.span("io.read")(spark.read.parquet(inPath))
    val result = tr.span("pipeline.extractContract")(Extract.extractContract(in, cfg))
    tr.span("io.noopSink")(noop(result))
  }

  override def checkCalls: Int = 1
  def check(): Seq[String] =
    compare(Corpus.summarize(Extract.extractContract(spark.read.parquet(inPath), cfg)), "contract output")

  // an unloaded 4-core host gets to the ops probe at about 55 s; it takes about 45 s
  override def layers(): Seq[(String, Double, String)] = super.layers() ++
    Probe.ifTime(ctx, "probe ops", startByS = 70)(Probe.twoCalls(new OpsQueries(ctx), "probe ops").opsMetrics())
}

/** `StreamingExtract.extractStream` over a parquet file source, one file
  * per trigger, into a checkpointed parquet sink; each call runs the whole
  * stream from a fresh checkpoint with `processAllAvailable`. */
final class StreamFiles(ctx: Ctx, numFiles: Int, docsPerFile: Int) extends ExtractionCalls(ctx, "stream") {
  protected def specs(): IndexedSeq[DocSpec] = Corpus.mixed(ctx.opts.seed, numFiles * docsPerFile)
  override protected def inputFiles: Int = numFiles
  private def out(i: Int) = path(s"out/call-$i")
  private var lastOut = -1
  private var progress = Vector.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  def call(i: Int): Unit = {
    val o = out(i)
    val in = tr.span("io.readStream")(spark.readStream.schema(StreamingExtract.InputSchema)
      .option("maxFilesPerTrigger", "1").parquet(inPath))
    val q = tr.span("streaming.extractStream")(StreamingExtract.extractStream(in, cfg))
      .writeStream.format("parquet")
      .option("path", s"$o/data")
      .option("checkpointLocation", s"$o/checkpoint")
      .start()
    try tr.span("streaming.processAllAvailable")(q.processAllAvailable())
    finally q.stop()
    progress = q.recentProgress.toVector.filter(_.numInputRows > 0)
  }

  override def afterCall(i: Int, traced: Boolean): Unit = {
    if (lastOut >= 0) Util.deleteRecursively(Paths.get(out(lastOut)))
    lastOut = i
  }

  def check(): Seq[String] = {
    if (lastOut < 0) return Seq("no output to check")
    val n = progress.length
    val batchErr = if (n == numFiles) Nil else Seq(s"stream ran $n non-empty batches, expected $numFiles")
    batchErr ++ compare(Corpus.summarize(spark.read.parquet(s"${out(lastOut)}/data")), "stream sink output")
  }

  /** Streaming metrics of the last call's non-empty batches. */
  def streamingMetrics(): Seq[(String, Double, String)] = {
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, key: String): Double =
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
    def med(key: String) = Util.median(progress.map(ms(_, key)))
    Seq(
      ("streaming.batches", progress.length.toDouble, "count"),
      ("streaming.add_batch_ms", med("addBatch"), "ms"),
      ("streaming.overhead_ms", Util.median(progress.map(p =>
        ms(p, "triggerExecution") - ms(p, "addBatch"))), "ms"),
      ("streaming.planning_ms", med("queryPlanning"), "ms"),
      ("streaming.rows_per_batch", Util.median(progress.map(_.numInputRows.toDouble)), "count"))
  }

}

/** A layer probe: a workload run once cold and once warm inside a traced
  * run, its outputs checked like a timed workload's. */
object Probe {
  /** The probe's metrics, if the JVM has run at most `startByS` seconds
    * when the probe would start. A host slow enough to get there later
    * skips it, so the run still ends before run.py's limit; the metrics
    * then keep their default 0 and the report names the probe. */
  def ifTime(ctx: Ctx, name: String, startByS: Double)(f: => Seq[(String, Double, String)]): Seq[(String, Double, String)] =
    if (Util.uptimeS() <= startByS) f
    else { ctx.skipped += name; Nil }

  def twoCalls[C <: Calls](w: C, name: String): C = {
    val tr = w.ctx.tracer
    tr.span(name) {
      tr.span("prepare")(w.prepare())
      (0 to 1).foreach { i => tr.span(s"call $i")(w.call(i)); w.afterCall(i, traced = true) }
    }
    val bad = w.check()
    if (bad.nonEmpty) throw new IllegalStateException(s"$name: ${bad.mkString("; ")}")
    w
  }
}
