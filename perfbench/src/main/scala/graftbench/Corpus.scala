package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XxHash64Function}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.fixtures.Fixtures
import graft.kernel.{Extractor, Parse}
import graft.model.{ErrorCode, ExtractConfig, RawDoc, Span}

/** One generated input document: the fixture docs in `parts` concatenated
  * page-wise (offsets shifted past the previous part's pages), cut to
  * `maxPages` pages when positive; a `nullId` doc carries a null doc_id. */
final case class DocSpec(id: String, parts: Seq[String], maxPages: Int, nullId: Boolean)

/** Reference facts of one corpus, from `Extractor.extractDoc` run in the
  * driver: what any correct run of the engine must emit. */
final case class Expected(docs: Long, pages: Long, quarantine: Map[String, Long], checksum: Long)

/** Seeded extraction corpora. The seed picks the fixture doc-id range and
  * the row order; the engine only sees the parquet written from them. */
object Corpus {
  private val P = Parse.SpansPerPage
  val QuarantineCodes: Seq[String] = Seq(ErrorCode.NullDocId, ErrorCode.Encrypted, ErrorCode.ParseError)

  def build(s: DocSpec): RawDoc = {
    val docs = s.parts.map(Fixtures.gen)
    val spans: Seq[Span] =
      if (docs.length == 1 && s.maxPages <= 0) docs.head.spans
      else {
        val out = Vector.newBuilder[Span]
        var pageBase = 0
        docs.foreach { d =>
          val pages = pagesOf(d)
          d.spans.foreach { sp =>
            if (s.maxPages <= 0 || pageBase + sp.offset / P < s.maxPages)
              out += sp.copy(offset = sp.offset + pageBase * P)
          }
          pageBase += pages
        }
        out.result()
      }
    RawDoc(if (s.nullId) null else s.id, spans)
  }

  private def pagesOf(d: RawDoc): Int =
    d.spans.iterator.filter(_ != null).map(_.offset / P + 1).maxOption.getOrElse(0)

  /** Index base of the seed's fixture id range. */
  private def base(seed: Long, salt: Long): Int = (((Util.mix64(seed ^ salt) >>> 1) % 900000L) + 10000L).toInt

  private def shuffled[A](xs: IndexedSeq[A], seed: Long): IndexedSeq[A] =
    new scala.util.Random(Util.mix64(seed)).shuffle(xs)

  /** The archetype mix of `Fixtures.corpusIds`: 1 in 20 a giant of 150-300
    * pages, 1 in 20 an empty or broken doc (a third of those with a null
    * doc_id, so the quarantine route always carries rows). */
  private def mixSpec(idx: Int): DocSpec = idx % 20 match {
    case 19 => val id = Fixtures.docId("skewed_giant", idx); DocSpec(id, Seq(id), 0, nullId = false)
    case 18 =>
      val id = Fixtures.docId("empty_and_broken", idx)
      DocSpec(id, Seq(id), 0, nullId = (idx / 20) % 3 == 0)
    case _ => val id = Fixtures.docId(Fixtures.Archetypes(idx % 5), idx); DocSpec(id, Seq(id), 0, nullId = false)
  }

  /** `n` docs of the mix. The giants' page counts are a fixed multiset
    * (150-299, in seeded order; each giant is its fixture doc twice over,
    * cut), so every seed carries the same giant pages. */
  def mixed(seed: Long, n: Int): IndexedSeq[DocSpec] = {
    val b = base(seed, 0x6d69786564L)
    val specs = (0 until n).map(i => mixSpec(b + i))
    val giantAt = specs.indices.filter(i => (b + i) % 20 == 19)
    val sizes = shuffled(giantAt.indices.map(k => 150 + (149 * k) / math.max(1, giantAt.length - 1)), seed ^ 2L)
    val sized = giantAt.zip(sizes).foldLeft(specs) { case (acc, (i, pages)) =>
      acc.updated(i, acc(i).copy(parts = Seq(acc(i).id, acc(i).id), maxPages = pages))
    }
    shuffled(sized, seed)
  }

  /** Giants of 640-1,200 pages (a fixed multiset of sizes, so every seed
    * carries the same page count), built from consecutive fixture giants,
    * plus a small-doc body of the mix without its giants holding about a
    * tenth of the pages. */
  def giants(seed: Long, nGiants: Int, nSmall: Int): IndexedSeq[DocSpec] = {
    val gb = base(seed, 0x6769616e74L)
    var next = gb
    val sizes = (0 until nGiants).map(k => 640 + (560 * k) / math.max(1, nGiants - 1))
    val big = shuffled(sizes, seed ^ 1L).zipWithIndex.map { case (target, k) =>
      val parts = Vector.newBuilder[String]
      var pages = 0
      while (pages < target) {
        val id = Fixtures.docId("skewed_giant", next)
        next += 1
        parts += id
        pages += pagesOf(Fixtures.gen(id))
      }
      DocSpec(f"giant-$gb%d-$k%04d", parts.result(), target, nullId = false)
    }
    val sb = base(seed, 0x736d616c6cL)
    val small = Iterator.from(sb).filter(_ % 20 != 19).take(nSmall).map(mixSpec).toVector
    shuffled(big ++ small, seed)
  }

  /** Writes `specs` as a parquet table of `files` files, generated on the
   * executors in spec order. */
  def write(spark: SparkSession, specs: IndexedSeq[DocSpec], files: Int, path: String): Unit = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(specs, files).map(build))
      .write.mode("overwrite").parquet(path)
  }

  /** Order-independent checksum over (doc_id, spans) of a contract-shaped
    * frame, plus the counts the checks compare. */
  def summarize(df: DataFrame): Expected = {
    val aggs = Seq(
      count(lit(1)),
      coalesce(sum(when(!col("quarantined"), col("num_pages"))), lit(0L)),
      coalesce(sum(pmod(xxhash64(col("doc_id"), col("spans")), lit(2147483647L))), lit(0L))) ++
      QuarantineCodes.map(c => coalesce(sum(when(col("quarantined") && col("error_code") === c, 1)), lit(0L)))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    Expected(row.getLong(0), row.getLong(1),
      QuarantineCodes.zipWithIndex.map { case (c, i) => c -> row.getLong(3 + i) }.toMap, row.getLong(2))
  }

  /** Spark's `xxhash64(doc_id, spans)` (seed 42), computed in the JVM over
    * the Catalyst form of the values, reduced as in [[summarize]]. */
  private val SpansType = ArrayType(StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType))))
  private def u8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  def rowHash(docId: String, spans: Seq[Span]): Long = {
    val arr = new GenericArrayData(spans.map(sp =>
      new GenericInternalRow(Array[Any](u8(sp.kind), u8(sp.text), u8(sp.media_ref), sp.offset))).toArray[Any])
    val h = XxHash64Function.hash(arr, SpansType, XxHash64Function.hash(u8(docId), StringType, 42L))
    java.lang.Math.floorMod(h, 2147483647L)
  }

  /** Runs the kernel over every doc in the driver (all cores, untimed) and
    * summarizes its output exactly as [[summarize]] does the engine's. */
  def reference(specs: IndexedSeq[DocSpec]): Expected = {
    val cfg = ExtractConfig.default
    val rows = Par.map(specs) { s =>
      val r = Extractor.extractDoc(build(s), cfg)
      (rowHash(r.doc_id, r.spans), if (r.quarantined) 0L else r.num_pages.toLong,
        if (r.quarantined) r.error_code else "")
    }
    Expected(rows.length.toLong, rows.map(_._2).sum,
      QuarantineCodes.map(c => c -> rows.count(_._3 == c).toLong).toMap, rows.map(_._1).sum)
  }
}
