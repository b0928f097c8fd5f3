package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. `parent` is 0 for the root; job spans carry the id
  * of the span whose job group submitted them. */
final case class SpanRec(id: Long, parent: Long, name: String, start: Double, end: Double)

object Tracer {
  /** Local property under which `SparkContext.setJobGroup` stores the group. */
  val JobGroupKey = "spark.jobGroup.id"
}
import Tracer.JobGroupKey

/** In-memory span recorder. Every span sets the Spark job group to its own
  * id, so the jobs it submits become its children; spans are written once,
  * when the run ends. A disabled tracer runs the bodies and records
  * nothing. */
final class Tracer(sc: SparkContext, val enabled: Boolean, val runId: String) {
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[Long] = List(0L)
  private var nextId = 1L
  private def wallS(): Double = System.currentTimeMillis() / 1e3

  private var paused = false

  /** Runs `f` without recording spans or setting job groups. */
  def quiet[A](f: => A): A = {
    val before = paused
    paused = true
    try f finally paused = before
  }

  def span[A](name: String)(f: => A): A =
    if (!enabled || paused) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      val prevGroup = sc.getLocalProperty(JobGroupKey)
      val prevDesc = sc.getLocalProperty("spark.job.description")
      stack = id :: stack
      sc.setJobGroup(id.toString, name)
      val t0 = wallS()
      try f
      finally {
        recs += SpanRec(id, parent, name, t0, wallS())
        stack = stack.tail
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
      }
    }

  /** Ids of `root` and every span below it. */
  def subtree(root: Long): Set[Long] = {
    val kids = recs.groupBy(_.parent)
    def go(id: Long): Set[Long] = Set(id) ++ kids.getOrElse(id, Nil).flatMap(r => go(r.id))
    go(root)
  }

  def lastId(name: String): Long = recs.reverseIterator.find(_.name == name).map(_.id).getOrElse(-1L)

  /** Span duration minus the part of it that its children cover. */
  def selfTimes(spans: Seq[SpanRec]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> math.max(0.0, (s.end - s.start) - covered)
    }.toMap
  }

  def toJson(extraSpans: Seq[SpanRec]): String = {
    val spans = recs.toSeq ++ extraSpans
    val self = selfTimes(spans)
    Util.jobj(Seq(
      "run_id" -> Util.jstr(runId),
      "spans" -> Util.jarr(spans.sortBy(_.start).map { s =>
        Util.jobj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "run_id" -> Util.jstr(runId),
          "name" -> Util.jstr(s.name), "start" -> Util.jnum(s.start), "end" -> Util.jnum(s.end),
          "self_s" -> Util.jnum(self(s.id))))
      })))
  }
}

/** Task-level totals of a set of Spark jobs. */
final case class JobTotals(
    jobs: Long, stages: Long, tasks: Long, taskFailures: Long, scans: Long,
    runS: Double, cpuS: Double, gcS: Double,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, writeBytes: Long)

/** Collects job, stage and task metrics keyed by job group (= span id).
  * An executed input scan is a `FileScanRDD` in a submitted stage, which
  * also counts scans that a plan hides behind an RDD and an RDD that two
  * jobs compute twice. */
final class LayerListener extends SparkListener {
  private final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var failures = 0L
    var scans = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shW = 0L; var shR = 0L; var spill = 0L; var written = 0L
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobInfo = mutable.Map.empty[Int, (String, Double)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Double, Double)]

  private def acc(group: String): Acc = byGroup.getOrElseUpdate(group, new Acc)
  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(JobGroupKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    acc(g).jobs += 1
    jobInfo(e.jobId) = (g, e.time / 1e3)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (g, t0) => jobSpans += ((e.jobId, g, t0, e.time / 1e3)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    val a = acc(g)
    a.stages += 1
    a.scans += e.stageInfo.rddInfos.count(_.name == "FileScanRDD")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (e.reason != org.apache.spark.Success) a.failures += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.written += m.outputMetrics.bytesWritten
    }
  }

  /** Totals over the job groups named by `spanIds`. */
  def totals(spanIds: Set[Long]): JobTotals = synchronized {
    val as = spanIds.toSeq.flatMap(id => byGroup.get(id.toString))
    JobTotals(as.map(_.jobs).sum, as.map(_.stages).sum, as.map(_.tasks).sum, as.map(_.failures).sum,
      as.map(_.scans).sum,
      as.map(_.runMs).sum / 1e3, as.map(_.cpuNs).sum / 1e9, as.map(_.gcMs).sum / 1e3,
      as.map(_.shW).sum, as.map(_.shR).sum, as.map(_.spill).sum, as.map(_.written).sum)
  }

  /** Finished jobs as child spans of the span that submitted them. */
  def jobSpanRecs(idBase: Long): Seq[SpanRec] = synchronized {
    jobSpans.toSeq.collect { case (jobId, g, t0, t1) if g.nonEmpty && g.forall(_.isDigit) =>
      SpanRec(idBase + jobId, g.toLong, s"job $jobId", t0, t1)
    }
  }
}
