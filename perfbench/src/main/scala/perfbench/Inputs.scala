package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.webtext.WebtextGen
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id), so the same seed yields byte-identical inputs at any parallelism. */
object Inputs {

  /** kg_scan: `n` WebtextGen pages starting at row `first` (page content is
    * a pure function of the row id), stored as `parts` parquet files of
    * equal size. */
  def webtext(spark: SparkSession, first: Long, n: Long, parts: Int, dir: Path): Unit = {
    import spark.implicits._
    spark.range(first, first + n, 1, parts).as[Long]
      .map { i => val p = WebtextGen.pageFor(i); (p._1, p._3) }
      .toDF("url", "html")
      .write.parquet(dir.toString)
  }

  /** Uniform draw in [0, 1) from (seed, salt, id, j). */
  private def unif(seed: Long, salt: Int, id: Column, j: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), id, j), lit(1L << 40)).cast("double") / (1L << 40).toDouble

  /** query_suite: the TPC-H-like star schema plus events, documents and
    * embeddings that SparkEntry's queries read, written as one parquet file
    * per table (`<dir>/<table>.parquet`), the layout the queries expect.
    * Row counts follow the sf0.01 shape times `scale`. */
  def sfTables(spark: SparkSession, seed: Long, scale: Double, dir: Path): Unit = {
    def n(base: Int) = math.max(10L, (base * scale).toLong)
    def u(salt: Int, j: Int = 0) = unif(seed, salt, col("id"), lit(j))
    def pick(xs: Seq[String], salt: Int) =
      element_at(lit(xs.toArray), (floor(u(salt) * xs.size) + 1).cast("int"))
    def money(salt: Int, lo: Double, hi: Double) = round(lit(lo) + u(salt) * (hi - lo), 2)
    // session time zone is UTC, so the NTZ cast keeps the UTC wall clock
    def micros(base: String, offset: Column) =
      timestamp_micros(lit(java.time.Instant.parse(base).toEpochMilli * 1000L) + offset)
        .cast("timestamp_ntz")
    def ts(salt: Int, days: Int) =
      micros("1992-01-01T00:00:00Z", floor(u(salt) * days).cast("long") * 86400000000L)
    val words = WebtextGen.Vocab ++ Seq("a", "the")
    val nCust = n(1500); val nPart = n(2000); val nSupp = n(100); val nOrd = n(15000)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(lit(Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> spark.range(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> spark.range(nCust).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), col("id").cast("string")).as("c_name"),
        floor(u(10) * 25).cast("int").as("c_nationkey"), money(11, -999, 9999).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 12)
          .as("c_mktsegment")),
      "supplier" -> spark.range(nSupp).select(col("id").as("s_suppkey"),
        concat(lit("Supplier#"), col("id").cast("string")).as("s_name"),
        floor(u(20) * 25).cast("int").as("s_nationkey"), money(21, -999, 9999).as("s_acctbal")),
      "part" -> spark.range(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(Seq("small", "red", "blue", "big", "steel"), 30),
          pick(Seq("ring", "widget", "bolt", "gear", "plate"), 31)).as("p_name"),
        concat(lit("Brand#"), (floor(u(32) * 25) + 1).cast("string")).as("p_brand"),
        pick(Seq("ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"), 33).as("p_type"),
        (floor(u(34) * 50) + 1).cast("int").as("p_size"), money(35, 900, 2000).as("p_retailprice")),
      "orders" -> spark.range(nOrd).select(col("id").as("o_orderkey"),
        floor(u(40) * nCust).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P"), 41).as("o_orderstatus"), money(42, 900, 500000).as("o_totalprice"),
        ts(43, 2400).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 44)
          .as("o_orderpriority")),
      "lineitem" -> spark.range(nOrd * 4).select((col("id") / 4).cast("long").as("l_orderkey"),
        floor(u(50) * nPart).cast("long").as("l_partkey"),
        floor(u(51) * nSupp).cast("long").as("l_suppkey"),
        (col("id") % 4 + 1).cast("int").as("l_linenumber"),
        (floor(u(52) * 50) + 1).cast("double").as("l_quantity"),
        money(53, 900, 100000).as("l_extendedprice"), round(floor(u(54) * 11) / 100, 2).as("l_discount"),
        round(floor(u(55) * 9) / 100, 2).as("l_tax"), pick(Seq("A", "N", "R"), 56).as("l_returnflag"),
        pick(Seq("F", "O"), 57).as("l_linestatus"), ts(58, 2500).as("l_shipdate")),
      "events" -> spark.range(n(10000)).select(col("id").as("event_id"),
        micros("2024-01-01T00:00:00Z",
          ((col("id") + u(60)) * (30.0 * 86400e6 / n(10000))).cast("long")).as("ts"),
        floor(u(61) * 150).cast("long").as("user_id"),
        pick(Seq("click", "signup", "error", "view", "purchase"), 62).as("event_type"),
        money(63, 0, 20).as("value"),
        concat(lit("{\"k\": "), floor(u(64) * 100).cast("string"), lit("}")).as("props")),
      // every tenth document repeats its predecessor's words but the
      // first, so the near-duplicate queries (q13, q14) find pairs
      "documents" -> spark.range(n(500))
        .withColumn("src", when(col("id") % 10 === 9, col("id") - 1).otherwise(col("id")))
        .select(col("id").as("doc_id"),
        array_join(transform(
          sequence(lit(1), (floor(unif(seed, 70, col("src"), lit(0)) * 90) + 30).cast("int")),
          (j, i) => element_at(lit(words.toArray), (floor(unif(seed, 71,
            when(i === 0, col("id")).otherwise(col("src")), j) * words.size) + 1).cast("int"))),
          " ").as("text"),
        pick(Seq("en", "en", "en", "de", "fr", "es", "zh"), 72).as("lang"),
        concat(lit("src"), floor(u(73) * 20).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> spark.range(n(500)).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(64)), j =>
          (unif(seed, 80, col("id") % 10, j) + unif(seed, 81, col("id"), j) * 0.2 - 0.6)
            .cast("float")).as("embedding"),
        (col("id") % 10).cast("int").as("label"))
    )
    def write(name: String, df: DataFrame): Unit = {
      val tmp = dir.resolve(s"$name.tmp")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no parquet part in $tmp"))
      Files.move(part, dir.resolve(s"$name.parquet"))
      Fs.deleteTree(tmp)
    }
    // each single-file write is one task: run the tables side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.traverse(tables) { case (name, df) => Future(write(name, df)) },
      Duration.Inf)
    finally pool.shutdown()
  }
}
