package graftbench

import graft.kernel.{Extractor, Parse, TextClean}
import graft.model.{DocResult, ExtractConfig, PageResult, RawDoc}

/** Single-threaded phase split of the extraction kernel over a fixed doc
  * sample, in the driver: the core path of `Extractor.extractDoc` replayed
  * through its public phases, each timed, against `extractDoc` itself. */
object KernelSplit {

  final case class Phases(paginate: Double, parse: Double, page: Double, merge: Double,
      clean: Double, project: Double) {
    def sum: Double = paginate + parse + page + merge + clean + project
  }

  final case class Result(phases: Phases, extractDocS: Double, pages: Long, spansMatch: Boolean) {
    def unaccountedFrac: Double = (extractDocS - phases.sum) / extractDocS
  }

  private def phased(doc: RawDoc, cfg: ExtractConfig, t: Array[Long]): DocResult = {
    var c = System.nanoTime()
    def lap(i: Int): Unit = { val n = System.nanoTime(); t(i) += n - c; c = n }
    val spans = if (doc.spans == null) Nil else doc.spans.filter(_ != null)
    val pagesIn = Parse.paginate(spans)
    lap(0)
    val pages = pagesIn.map { case (p, ss) =>
      val pd = Parse.parsePage(p, ss, cfg)
      lap(1)
      val pr =
        try Extractor.processSinglePage(pd, p + 1, cfg)
        catch { case scala.util.control.NonFatal(_) => PageResult(page_number = p + 1) }
      lap(2)
      pr
    }
    var r = Extractor.mergeResults(doc.doc_id, pages)
    lap(3)
    if (cfg.enableTextCleaning) r = TextClean.postProcess(r, cfg)
    r = r.copy(tables = r.pages.flatMap(_.tables), images = r.pages.flatMap(_.images))
    lap(4)
    val out = r.copy(spans = Extractor.projectSpans(r))
    lap(5)
    out
  }

  /** Alternates phased and whole-doc passes over `docs` until `budgetS`
    * has passed (at least `minPasses` each) and reports per-pass medians.
    * Docs must have non-null ids and no null spans (the quarantine path is
    * not part of the split). */
  def run(docs: IndexedSeq[RawDoc], budgetS: Double, minPasses: Int = 3): Result = {
    val cfg = ExtractConfig.default
    val phaseRuns = Vector.newBuilder[Array[Long]]
    val wholeRuns = Vector.newBuilder[Double]
    var matches = true
    val t0 = Util.nowS()
    var pass = 0
    while (pass < minPasses || Util.nowS() - t0 < budgetS) {
      val t = new Array[Long](6)
      val phasedOut = docs.map(d => phased(d, cfg, t))
      phaseRuns += t
      val (whole, s) = Util.timed(docs.map(d => Extractor.extractDoc(d, cfg)))
      wholeRuns += s
      if (pass == 0) matches = phasedOut.zip(whole).forall { case (a, b) => a.spans == b.spans }
      pass += 1
    }
    val runs = phaseRuns.result()
    def med(i: Int): Double = Util.median(runs.map(_(i) / 1e9))
    val pages = docs.map(d => Parse.paginate(d.spans).length.toLong).sum
    Result(Phases(med(0), med(1), med(2), med(3), med(4), med(5)), Util.median(wholeRuns.result()), pages, matches)
  }
}
