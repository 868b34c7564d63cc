package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark workload. `stage` and `warmUp` are set-up; `measure` runs
  * operations until the deadline and records each one. */
trait Workload {
  def conf: Seq[(String, String)]
  def stage(spark: SparkSession, family: Int): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, deadline: Long, trace: Option[(Tracer, EngineListener)]): Unit
  /** Work that runs after the heap sample (kg_scan's local[1] leg). */
  def afterHeap(): Unit = ()
  /** Writes one `expect` record per input family: the outputs the checks
    * compare against. */
  def record(families: Range): Unit

  /** Used driver heap after forced collections, in MB, one reading per
    * collection; whatever the workload still references (its last result)
    * stays live. Spark's cleaner frees broadcast and shuffle state on its
    * own thread after a collection, so collections repeat until the
    * reading stops falling (at most ten). */
  def liveHeapMb(): Seq[Double] = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    val readings = scala.collection.mutable.ArrayBuffer(used(), used())
    while (readings.size < 10 && readings.last < readings(readings.size - 2) - 0.5)
      readings += used()
    readings.toSeq
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kg_scan" => new KgScan(ctx)
    case "query_suite" => new QuerySuite(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Engine metrics of one interval of `wallS` seconds on `cores` cores. */
  def engineMetrics(e: EngineTotals, wallS: Double, cores: Int): Map[String, Double] = Map(
    "engine.jobs" -> e.jobs.toDouble, "engine.stages" -> e.stages.toDouble,
    "engine.tasks" -> e.tasks.toDouble, "engine.task_s" -> e.taskMs / 1e3,
    "engine.busy_share" -> (if (wallS > 0) e.taskMs / 1e3 / (wallS * cores) else 0.0),
    "engine.shuffle_read_mb" -> e.shuffleRead / 1048576.0,
    "engine.shuffle_write_mb" -> e.shuffleWrite / 1048576.0,
    "engine.spill_mb" -> e.spill / 1048576.0, "engine.input_mb" -> e.input / 1048576.0,
    "engine.skew_max" -> e.skewMax)
}

/** kg_scan: a stored WebtextGen html corpus (vocabulary-bounded, 1-5 Zipf
  * mentions per page), one round through the fused html scan. The seed
  * picks the corpus's row-id range; page content is a pure function of the
  * row id. An operation is one `KgPipeline.run` timed through
  * `triples.count()`; its output check is the triple count and an
  * order-independent digest of the triples. */
final class KgScan(ctx: Ctx) extends Workload {
  private val pages = if (ctx.args.toy) 16000L else 200000L
  private val nParts = 16
  private val cfg = KgPipeline.PipelineConfig(rounds = 1, maxCandidatesPerRound = 500,
    minMentionFreq = 2)

  val conf: Seq[(String, String)] = Seq(
    // RunPipeline's session settings for the pipeline
    "spark.sql.constraintPropagation.enabled" -> "false",
    "spark.sql.execution.topKSortFallbackThreshold" -> "100000")

  private var corpusDir: Path = null
  private var lastResult: AnyRef = null

  /** Corpus part files in partition order; a prefix of this list is a
    * prefix of the corpus. */
  private def parts: Seq[String] = {
    val ls = Files.list(corpusDir)
    try ls.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    finally ls.close()
  }
  private def prefix = parts.take(nParts / 4)

  def stage(spark: SparkSession, family: Int): Unit = {
    if (corpusDir != null) Fs.deleteTree(corpusDir)
    corpusDir = ctx.runDir.resolve(s"corpus-$family")
    Inputs.webtext(spark, family * pages, pages, nParts, corpusDir)
  }

  /** Untimed runs over the whole corpus, so first-use costs (codegen, the
    * decide stage's cold premium, JIT compilation) land in set-up. Run
    * times fall for about ten runs in a fresh JVM on 4 cores; two set-ups
    * of three runs each leave the timed runs close to the plateau. */
  def warmUp(spark: SparkSession): Unit =
    for (_ <- 1 to 3) op(spark, parts, KgPipeline.domainModels())

  final case class Out(wallS: Double, count: Long, digest: String, lineage: Seq[Row],
                       phases: Map[String, Double], ckptBytes: Long, ckptFiles: Long)

  /** One pipeline run over `files` with a fresh checkpoint directory,
    * deleted afterwards. */
  private def op(spark: SparkSession, files: Seq[String], models: graft.models.IconModels): Out = {
    val ck = ctx.freshDir("ckpt")
    try {
      val corpus = spark.read.parquet(files: _*).select("url", "html")
      val phaseOut = new ByteArrayOutputStream()
      val t0 = System.nanoTime()
      // GRAFT_PHASE_TIMES (set on traced runs) prints the phase line to
      // Console.out on this thread; capture it instead of the terminal
      val (res, n) = Console.withOut(new PrintStream(phaseOut, true, "UTF-8")) {
        val r = KgPipeline.run(spark, corpus, "html", models, cfg, ck.toString, htmlInput = true)
        (r, r.triples.count())
      }
      val wall = (System.nanoTime() - t0) / 1e9
      lastResult = res
      val (bytes, nFiles) = Fs.usage(ck)
      val phases = """"(\w+)":([0-9.]+)""".r
        .findAllMatchIn(new String(phaseOut.toByteArray, UTF_8))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      Out(wall, n, KgScan.digest(res.triples.collect().toSeq, ctx.args.plant == "alter-triple"),
        res.lineage.collect().toSeq, phases, bytes, nFiles)
    } finally Fs.deleteTree(ck)
  }

  /** Runs one operation and records it; a throw is a failed operation. */
  private def timedOp(spark: SparkSession, files: Seq[String], models: graft.models.IconModels,
                      leg: String): Option[Out] =
    try {
      val o = op(spark, files, models)
      ctx.emit("op", "leg" -> leg, "ok" -> true, "wall_s" -> o.wallS, "count" -> o.count,
        "digest" -> o.digest, "pages" -> pages * files.size / nParts)
      Some(o)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $leg operation failed: $e")
        ctx.emit("op", "leg" -> leg, "ok" -> false, "error" -> e.toString)
        None
    }

  def measure(spark: SparkSession, deadline: Long, trace: Option[(Tracer, EngineListener)]): Unit = {
    var first = true
    while (first || System.nanoTime() < deadline) {
      first = false
      trace match {
        case None => timedOp(spark, parts, KgPipeline.domainModels(), "main")
        case Some((t, l)) =>
          ModelCounters.reset()
          val mark = l.mark()
          val (out, spanId) = t.spanWith("KgPipeline.run", (o: Option[Out]) =>
            o.map(x => Map("triples" -> x.count.toDouble)).getOrElse(Map.empty[String, Double])) {
            timedOp(spark, parts, CountingModels(KgPipeline.domainModels()), "main")
          }
          org.apache.spark.perfbench.BusDrain(spark.sparkContext)
          for (o <- out)
            ctx.emit("layer", "metrics" -> (layerMetrics(o, l.since(mark)) ++ modelMetrics(t, spanId)))
      }
    }
    for ((t, _) <- trace) t.span("extractMentionsFromHtml") {
      val corpus = spark.read.parquet(parts: _*).select("url", "html")
      val t0 = System.nanoTime()
      val mentions = KgPipeline.extractMentionsFromHtml(corpus, "html", cfg.minMentionFreq).count()
      val s = (System.nanoTime() - t0) / 1e9
      ctx.emit("layer", "metrics" -> Map("extract.s" -> s,
        "extract.pages_per_s" -> pages / s, "extract.mentions" -> mentions.toDouble))
    }
  }

  /** Traced runs end with one local[4] run over the whole corpus and one
    * local[1] run over its first quarter, each in a fresh session:
    * engine.scale_eff = pages/s at 4 cores / (4 x pages/s at 1 core). */
  override def afterHeap(): Unit = if (ctx.args.trace) {
    val walls = for ((cores, files, leg) <- Seq((Main.Cores, parts, "scale4"), (1, prefix, "scale1")))
      yield {
        ctx.stopSession()
        timedOp(ctx.session(cores, conf), files, KgPipeline.domainModels(), leg).map(_.wallS)
      }
    walls match {
      case Seq(Some(w4), Some(w1)) => ctx.emit("layer", "metrics" ->
        Map("engine.scale_eff" -> (pages / w4) / (Main.Cores * (pages / 4.0) / w1)))
      case _ =>
    }
  }

  private def layerMetrics(o: Out, e: EngineTotals): Map[String, Double] = {
    def rows(stage: String) = o.lineage.filter(_.getAs[String]("stage") == stage)
    def sumL(stage: String, field: String) = rows(stage).map(_.getAs[Long](field)).sum.toDouble
    val decideMs = rows("decide").map(_.getAs[Long]("wallMs").toDouble).sorted
    def pct(p: Double) =
      if (decideMs.isEmpty) 0.0 else decideMs(math.min(decideMs.size - 1, (p * decideMs.size).toInt))
    val decisions = sumL("decide", "rowsOut")
    val scored = sumL("decide", "scoredPairs")
    val phases = Seq("candidates", "prior_slice", "decide", "commit", "canonicalize", "checkpoint")
      .map(p => s"pipeline.${p}_s" -> o.phases.getOrElse(p, 0.0)).toMap
    val canon = Seq("embed", "pairs", "cc", "preload", "apply")
      .map(s => s"pipeline.canon_${s}_ms" -> sumL(s"canon_$s", "wallMs")).toMap
    phases ++ canon ++ Map(
      "pipeline.other_s" -> (o.wallS - o.phases.values.sum),
      "pipeline.canon_merged" -> sumL("canon_cc", "rowsOut"),
      "pipeline.ckpt_mb" -> o.ckptBytes / 1048576.0,
      "pipeline.ckpt_files" -> o.ckptFiles.toDouble,
      "core.decide_task_p50_ms" -> pct(0.5), "core.decide_task_p90_ms" -> pct(0.9),
      "core.decide_task_max_ms" -> decideMs.lastOption.getOrElse(0.0),
      "core.decisions" -> decisions, "core.scored_pairs" -> scored,
      "core.scored_per_decision" -> (if (decisions > 0) scored / decisions else 0.0),
      "retrieve.index_build_ms" -> sumL("index_build", "wallMs"),
      "retrieve.embedded" -> sumL("index_build", "rowsOut"),
      "retrieve.signed" -> sumL("index_build", "scoredPairs"),
      "retrieve.banded_rounds" -> (rows("index_build").count(_.getAs[Long]("rowsIn") >
        cfg.annNodeThreshold) + rows("retrieve_dist").size).toDouble,
      "trace.wall_s" -> o.wallS
    ) ++ Workload.engineMetrics(e, o.wallS, Main.Cores)
  }

  /** Model counters of the finished operation, also written as one
    * aggregate span per model kind (duration = summed call time). */
  private def modelMetrics(t: Tracer, parent: Long): Map[String, Double] = {
    val Seq(embCalls, embLabels, embNs, subCalls, subPairs, subNs, genCalls, genNs) =
      ModelCounters.snapshot()
    val start = t.all.find(_.id == parent).map(_.startMs).getOrElse(t.nowMs)
    for ((kind, calls, ns) <- Seq(("emb", embCalls, embNs), ("sub", subCalls, subNs),
        ("gen", genCalls, genNs)))
      t.add(Span(t.nextId(), parent, s"model.$kind", start, start + ns / 1e6, t.run,
        Map("calls" -> calls.toDouble, "aggregate" -> 1.0)))
    Map("models.emb_calls" -> embCalls.toDouble, "models.sub_calls" -> subCalls.toDouble,
      "models.gen_calls" -> genCalls.toDouble, "models.emb_labels" -> embLabels.toDouble,
      "models.sub_pairs" -> subPairs.toDouble, "models.emb_s" -> embNs / 1e9,
      "models.sub_s" -> subNs / 1e9, "models.gen_s" -> genNs / 1e9,
      "models.emb_labels_per_call" -> (if (embCalls > 0) embLabels.toDouble / embCalls else 0.0))
  }

  def record(families: Range): Unit = {
    val spark = ctx.session(Main.Cores, conf)
    for (f <- families) {
      stage(spark, f)
      for ((leg, files) <- Seq("main" -> parts, "prefix" -> prefix)) {
        val o = op(spark, files, KgPipeline.domainModels())
        ctx.emit("expect", "family" -> f, "leg" -> leg, "count" -> o.count, "digest" -> o.digest)
      }
    }
  }
}

object KgScan {
  /** Order-independent digest of (subj, pred, obj, src_round, lineage)
    * rows: the sum mod 2^64 of each row's SHA-256 prefix. `alter` changes
    * one triple first (the smoke test's planted defect). */
  def digest(rows: Seq[Row], alter: Boolean): String = {
    val keys = rows.map(r => (0 until 5).map(i => String.valueOf(r.get(i))).mkString("\u0001"))
    val ks = if (alter && keys.nonEmpty) keys.sorted.updated(0, keys.min + "#altered") else keys
    val acc = ks.foldLeft(0L) { (a, k) =>
      a + ByteBuffer.wrap(MessageDigest.getInstance("SHA-256").digest(k.getBytes(UTF_8))).getLong
    }
    f"$acc%016x"
  }
}

/** query_suite: the 33 SparkEntry queries, one cold pass (each query runs
  * once, in name order, as graft.Bench does) over seeded tables of the
  * sf0.01 shape. An operation is one query. The tables are staged by one
  * JVM and read by the next (see Main). */
final class QuerySuite(ctx: Ctx) extends Workload {
  private val scale = if (ctx.args.toy) 0.1 else 1.0
  private val dir = ctx.runDir.resolve("tables")

  // graft.Bench's session settings
  val conf: Seq[(String, String)] = Seq(
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.files.openCostInBytes" -> "512k")

  def stage(spark: SparkSession, family: Int): Unit = {
    Fs.deleteTree(dir)
    Files.createDirectories(dir)
    Inputs.sfTables(spark, 7919L * family + 3, scale, dir)
  }

  /** graft.Bench's untimed bootstrap. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1).count()
    spark.read.parquet(s"$dir/nation.parquet").count()
  }

  private def queries: Seq[(String, (SparkSession, String) => DataFrame)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, _) if ctx.args.plant == "throw-query" && name == "q01_pricing_agg" =>
        name -> ((_: SparkSession, _: String) => throw new IllegalStateException("planted failure"))
      case q => q
    }

  def measure(spark: SparkSession, deadline: Long, trace: Option[(Tracer, EngineListener)]): Unit = {
    val mark = trace.map(_._2.mark())
    var total = 0.0
    var rows = Map.empty[String, Long]
    for ((name, fn) <- queries) {
      val t0 = System.nanoTime()
      val n =
        try Some(trace match {
          case Some((t, _)) => t.span(name)(fn(spark, dir.toString).count())
          case None => fn(spark, dir.toString).count()
        }) catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] $name failed: $e")
            None
        }
      val s = (System.nanoTime() - t0) / 1e9
      total += s
      n.foreach(r => rows += name -> r)
      ctx.emit("query", "name" -> name, "s" -> s, "ok" -> n.isDefined, "rows" -> n.getOrElse(-1L))
    }
    for ((_, l) <- trace; m <- mark) {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      ctx.emit("layer", "metrics" ->
        (Workload.engineMetrics(l.since(m), total, Main.Cores) + ("trace.wall_s" -> total)))
    }
    // pages: the documents table the text queries read; triples: q24's
    ctx.emit("op", "leg" -> "main", "ok" -> true, "wall_s" -> total,
      "pages" -> spark.read.parquet(s"$dir/documents.parquet").count(),
      "count" -> rows.getOrElse("q24_kg_triples", 0L))
  }

  def record(families: Range): Unit = {
    val spark = ctx.session(Main.Cores, conf)
    for (f <- families) {
      stage(spark, f)
      val rows = queries.map { case (name, fn) => name -> fn(spark, dir.toString).count() }.toMap
      ctx.emit("expect", "family" -> f, "rows" -> rows)
    }
  }
}
