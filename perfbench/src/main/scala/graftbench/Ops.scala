package graftbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** Seeded tables with the schemas of the sf test tables (star schema,
  * events, documents, embeddings), written one parquet file each. The seed
  * changes every value; sizes are fixed. */
object OpsTables {
  /** Row counts between those of sf0.001 and sf0.01, with sf0.01's
    * document count. */
  private object N {
    val lineitem = 20000L; val orders = 5000L; val customer = 500L; val part = 700L; val supplier = 40L
    val events = 4000L; val users = 100L; val documents = 500; val embeddings = 500L
  }

  private val Words = Seq("join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
    "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key", "stream", "window",
    "a", "spark", "part", "group", "big", "the", "fast", "query", "sort", "dup")
  private val Colors = Seq("red", "blue", "green", "white", "black", "yellow", "pink", "grey")
  private val Nouns = Seq("plate", "bolt", "gear", "valve", "pipe", "frame", "spring", "wheel")

  def write(spark: org.apache.spark.sql.SparkSession, seed: Long, dir: String): Unit = {
    val s = N
    /** Uniform integer in [0, m) from (row id, column salt, seed). */
    def u(salt: Int, m: Long): Column = pmod(xxhash64(col("id"), lit(salt), lit(seed)), lit(m))
    def pick(salt: Int, xs: Seq[String]): Column = element_at(array(xs.map(lit): _*), (u(salt, xs.length) + 1).cast("int"))
    def money(salt: Int, lo: Double, cents: Long): Column = round(lit(lo) + u(salt, cents) / 100.0, 2)
    def ts(baseEpochS: Long, salt: Int, spanSeconds: Long): Column =
      timestamp_micros(lit(baseEpochS * 1000000L) + u(salt, spanSeconds * 1000000L)).cast("timestamp_ntz")
    def out(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    out("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")))
    out("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    out("supplier", spark.range(s.supplier).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"), u(1, 25).cast("int").as("s_nationkey"),
      money(2, -999.99, 1099999).as("s_acctbal")))
    out("customer", spark.range(s.customer).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"), u(1, 25).cast("int").as("c_nationkey"),
      money(2, -999.99, 1099999).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")))
    out("part", spark.range(s.part).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, Colors), pick(2, Nouns)).as("p_name"),
      concat(lit("Brand#"), u(3, 25) + 1).as("p_brand"),
      pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (u(5, 50) + 1).cast("int").as("p_size"), money(6, 900.0, 10000).as("p_retailprice")))
    out("orders", spark.range(s.orders).select(col("id").as("o_orderkey"), u(1, s.customer).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"), money(3, 1000.0, 49900000).as("o_totalprice"),
      ts(788918400L, 4, 2400L * 86400).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")))
    out("lineitem", spark.range(s.lineitem).select(u(1, s.orders).as("l_orderkey"), u(2, s.part).as("l_partkey"),
      u(3, s.supplier).as("l_suppkey"), (u(4, 7) + 1).cast("int").as("l_linenumber"),
      (u(5, 50) + 1).cast("double").as("l_quantity"), money(6, 900.0, 10490000).as("l_extendedprice"),
      (u(7, 11) / 100.0).as("l_discount"), (u(8, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"), pick(10, Seq("O", "F")).as("l_linestatus"),
      ts(788918400L, 11, 2400L * 86400).as("l_shipdate")))
    out("events", spark.range(s.events).select(col("id").as("event_id"),
      ts(1704067200L, 1, 30L * 86400).as("ts"), u(2, s.users).as("user_id"),
      pick(3, Seq("click", "purchase", "error", "signup", "view")).as("event_type"),
      money(4, 0.01, 49000).as("value"), format_string("{\"k\": %d}", u(5, 100)).as("props")))

    // documents: ids 0..n-1 like the sf tables (the queries take docs 0-4
    // as a benchmark set; the committed expected-output table covers ids
    // below 5000), seeded word-bag text of 48-553 chars
    val ids = 0 until s.documents
    val words = array(Words.map(lit): _*)
    val docs = spark.createDataFrame(ids.map(i => Tuple1(i.toLong))).toDF("id")
      .withColumn("n_words", (u(1, 90) + 9).cast("int"))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), col("n_words")),
        k => element_at(words, (pmod(xxhash64(col("id"), k, lit(seed)), lit(Words.length.toLong)) + 1).cast("int")))))
      .withColumn("text", substring(col("text"), 1, 553))
      .select(col("id").as("doc_id"), col("text"),
        pick(2, Seq("en", "en", "fr", "es", "zh", "de")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"), length(col("text")).cast("long").as("n_chars"))
    out("documents", docs)

    // embeddings: 64-dim, ten labelled clusters
    out("embeddings", spark.range(s.embeddings)
      .withColumn("label", u(1, 10).cast("int"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          ((pmod(xxhash64(col("label"), j, lit(seed)), lit(2001L)) - 1000) / 5000.0 +
            (pmod(xxhash64(col("id"), j, lit(seed)), lit(2001L)) - 1000) / 20000.0).cast("float")).as("embedding"),
        col("label")))
  }
}

/** The 54 `SparkEntry.queries` in sorted order, each forced through the
  * noop sink with its row count observed. A call is one pass over all of
  * them. The q51/q52 encoded payloads are materialized in preparation. */
final class OpsQueries(ctx: Ctx) extends Calls(ctx) {
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val dir = ctx.dir("tables")
  private var lastPass = Set.empty[Long]
  private val names = SparkEntry.queries.keys.toVector.sorted
  private var overrides = Map.empty[String, () => DataFrame]
  private val counts = scala.collection.mutable.Map.empty[String, Long]
  private val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]]

  def prepare(): Unit = {
    OpsTables.write(spark, ctx.opts.seed, dir)
    import spark.implicits._
    graft.ops.Queries.mediaPayloads(spark, dir).write.mode("overwrite").parquet(ctx.dir("media/img.parquet"))
    graft.ops.Queries.audioPayloads(spark, dir).write.mode("overwrite").parquet(ctx.dir("media/aud.parquet"))
    overrides = Map(
      "q51_media_decode" -> (() => graft.ops.Queries.mediaDecodeFrom(
        spark.read.parquet(ctx.dir("media/img.parquet")).as[graft.ops.Multimodal.MediaRow])),
      "q52_audio_decode" -> (() => graft.ops.Queries.audioDecodeFrom(
        spark.read.parquet(ctx.dir("media/aud.parquet")).as[graft.ops.Multimodal.MediaRow])))
    // oracle SQL for the row-count check (run by run.py)
    val csv = ctx.dir("expected_docs.csv")
    val res = getClass.getResourceAsStream("/graft/expected_docs.csv")
    try Files.copy(res, Paths.get(csv)) finally res.close()
    val sql = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Util.jstr(v.replace("__GRAFT_EXPECTED__", csv))
    }
    Files.writeString(Paths.get(ctx.dir("oracle_sql.json")), Util.jobj(sql))
  }

  def call(i: Int): Unit = tr.span("ops pass") {
    names.foreach { name =>
      val obs = new Observation(name)
      val (_, s) = Util.timed(tr.span("ops." + name) {
        val df = overrides.get(name).map(_.apply()).getOrElse(SparkEntry.queries(name)(spark, dir))
        df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      })
      val rows = obs.get("rows").asInstanceOf[Long]
      counts.get(name) match {
        case Some(c) if c != rows => throw new IllegalStateException(s"$name: $rows rows, earlier pass $c")
        case _ => counts(name) = rows
      }
      if (i > 0) perQuery(name) = perQuery.getOrElse(name, Vector.empty) :+ s
    }
  }

  override def afterCall(i: Int, traced: Boolean): Unit =
    if (tr.enabled) {
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      lastPass = tr.subtree(tr.lastId("ops pass"))
    }

  /** Warm per-query seconds plus jobs and shuffle bytes of the last pass. */
  def opsMetrics(): Seq[(String, Double, String)] = {
    val t = ctx.listener.totals(lastPass)
    names.map(n => (s"ops.${n}_s", Util.median(perQuery.getOrElse(n, Vector(0.0))), "s")) ++
      Seq(("ops.jobs", t.jobs.toDouble, "count"),
      ("ops.shuffle_bytes", (t.shuffleWrite + t.shuffleRead).toDouble, "bytes"))
  }

  /** Row counts go to run.py, which compares them with the
    * DuckDB oracle over the same tables. */
  def check(): Seq[String] = {
    Files.writeString(Paths.get(ctx.dir("row_counts.json")),
      Util.jobj(names.filter(counts.contains).map(n => n -> counts(n).toString)))
    val missing = names.filterNot(counts.contains)
    if (missing.isEmpty) Nil else Seq(s"no row count for ${missing.mkString(", ")}")
  }
}
