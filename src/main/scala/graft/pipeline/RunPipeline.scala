package graft.pipeline

import graft.webtext.WebtextGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI for the KG pipeline over the synthetic webtext corpus.
  *
  * Usage: runMain graft.pipeline.RunPipeline
  *          <ckptDir> <pages> <rounds> [cores] [maxCandidates] [minFreq] [corpus]
  *          [distRetrieveNodes] [maxSnapshotNodes]
  *   corpus = webtext (default) | rand50k — rand50k draws each document's
  *   words uniformly from a 50k-word vocabulary (the ScalingBench dedup
  *   corpus shape), which yields millions of DISTINCT candidate mentions:
  *   the stress shape for the uncapped-candidate drive (the webtext corpus
  *   is vocabulary-bounded, so its candidate count plateaus).
  *
  * Resumable: re-running with the same ckptDir continues after the last
  * round whose COMMIT marker exists (kill it mid-run and re-run to verify);
  * a ckptDir in another checkpoint layout fails before any round work.
  * Prints driver-heap telemetry per run so candidate-scale drives can
  * evidence flat driver memory.
  */
/** Latency-injecting embedder for the real-encoder dress rehearsal
  * (`GRAFT_EMBED_LATENCY_MS`): every model invocation sleeps a fixed
  * delay, emulating a remote encoder's per-batch round trip. Invocation
  * and label counters live in the companion (same-JVM executors under
  * local[*]), so a drive can check measured wall ≈ calls × latency — the
  * end-to-end proof that the batch-64 contract + incremental index keep
  * model-call counts at the predicted minimum. */
class LatencyEmbedder(inner: graft.models.Embedder, delayMs: Long)
    extends graft.models.Embedder {
  def dim: Int = inner.dim
  def embed(labels: Seq[String]): Array[Array[Float]] = {
    LatencyEmbedder.calls.incrementAndGet()
    LatencyEmbedder.labels.addAndGet(labels.size)
    if (delayMs > 0) Thread.sleep(delayMs)
    inner.embed(labels)
  }
}
object LatencyEmbedder {
  val calls = new java.util.concurrent.atomic.AtomicLong
  val labels = new java.util.concurrent.atomic.AtomicLong
}

object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: RunPipeline <ckptDir> [pages] [rounds] [cores] [maxCandidates] " +
        "[minFreq] [webtext|rand50k] [distRetrieveNodes] [maxSnapshotNodes]")
    val ckpt = args(0)
    val pages = if (args.length > 1) args(1).toLong else 10000L
    val rounds = if (args.length > 2) args(2).toInt else 2
    val cores = if (args.length > 3) args(3) else "8"
    val maxCands = if (args.length > 4) args(4).toInt else 100
    val minFreq = if (args.length > 5) args(5).toLong else 2L
    val corpusKind = if (args.length > 6) args(6) else "webtext"
    val distNodes = if (args.length > 7) args(7).toInt else 2000000
    val maxNodes = if (args.length > 8) args(8).toInt else 8000000
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // the pipeline drives GraphOps fixpoints from driver-built frames in
      // the distributed-canonicalize path; see GraphOps session note
      .config("spark.sql.constraintPropagation.enabled", "false")
      // a round too large for one decide chunk selects its candidates with
      // orderBy(freq,mention).limit(cap): for large caps
      // TakeOrderedAndProject would merge per-partition top-k ON THE
      // DRIVER — force the sort+GlobalLimit plan (executor-side) past 100k.
      // A one-chunk round (cap ≤ KgPipeline.DriverRows) takes its list
      // with RDD.takeOrdered, which this setting does not touch
      .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def heapMb(): Long = {
      System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }
    val (corpus, textCol, isHtml) = corpusKind match {
      case "rand50k" =>
        val c = spark.range(0, pages, 1, 64).select(
          concat(lit("https://x.test/"), col("id")).as("url"),
          concat_ws(" ", transform(sequence(lit(1), lit(100)),
            i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(50000))))).as("text"))
        (c, "text", false)
      case "webtext" =>
        (WebtextGen.generate(spark, pages, 16).select(col("url"), col("html")), "html", true)
      case other =>
        // a typo must not silently run the wrong benchmark shape — the
        // rand50k drive exists to evidence uncapped-candidate behavior,
        // which the vocabulary-bounded webtext corpus cannot show
        sys.error(s"unknown corpus '$other' (expected webtext | rand50k)")
    }
    println(s"[pipeline] resume point: round ${KgPipeline.lastCompleteRound(ckpt)}; " +
      s"heap before: ${heapMb()} MB")
    val embedLatencyMs = sys.env.get("GRAFT_EMBED_LATENCY_MS").map(_.toLong).getOrElse(0L)
    // GRAFT_EMB_DIM: embedding width (default 64) — 768 matches a real
    // sentence-encoder and exercises the distributed path's n·dim scaling
    val baseModels = KgPipeline.domainModels(
      sys.env.get("GRAFT_EMB_DIM").map(_.toInt).getOrElse(64))
    val models =
      if (embedLatencyMs > 0)
        baseModels.copy(emb = new LatencyEmbedder(baseModels.emb, embedLatencyMs))
      else baseModels
    // GRAFT_MOVE=<maxTargets>: append a category-move round (C1-C9 at
    // pipeline scale) over the minted bottom concepts, search-method +
    // parent feature (driver-index-free), capped at maxTargets
    val moveCfg = sys.env.get("GRAFT_MOVE").map(_.toInt).map(cap =>
      graft.core.MoveConfig(mode = "auto", method = "search",
        selectionFeatures = Seq("parent"), weights = Seq(1.0),
        threshold = 0.3, maxOuterLoop = Some(cap)))
    val result = KgPipeline.run(spark, corpus, textCol, models,
      KgPipeline.PipelineConfig(rounds = rounds, maxCandidatesPerRound = maxCands,
        minMentionFreq = minFreq, distributedRetrieveNodes = distNodes,
        maxSnapshotNodes = maxNodes, move = moveCfg), ckpt, htmlInput = isHtml)
    val heapAfter = heapMb()
    // the triples are a local relation: count and sort the rows the driver
    // holds (its collect starts no job; a count or a sort in Spark ships
    // them all in one task)
    val triples = result.triples.collect()
    println(s"[pipeline] rounds run: ${result.roundsRun}; triples: ${triples.length}; " +
      s"heap after: $heapAfter MB")
    if (embedLatencyMs > 0)
      println(s"[pipeline] embedder: ${LatencyEmbedder.calls.get()} invocations / " +
        s"${LatencyEmbedder.labels.get()} labels at ${embedLatencyMs} ms/invocation -> " +
        f"${LatencyEmbedder.calls.get() * embedLatencyMs / 1000.0}%.1f s serial model wall " +
        "(divide by occupied cores for the parallel floor)")
    // the first 10 in show's layout; an 11th row keeps show's "only
    // showing top 10 rows" line
    val shown = triples
      .sortBy(t => (Option(t.getString(0)), Option(t.getString(1)), Option(t.getString(2))))
      .take(11)
    spark.createDataFrame(java.util.Arrays.asList(shown: _*), result.triples.schema)
      .show(10, truncate = false)
    spark.stop()
  }
}
