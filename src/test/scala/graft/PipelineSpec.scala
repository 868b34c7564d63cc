package graft

import graft.models.{Embedder, HashNgramEmbedder}
import graft.pipeline.KgPipeline
import graft.webtext.WebtextGen
import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Call-counting embedder wrapper: verifies the M1 batch contract (one
  * model invocation per ≤64-label chunk, never one per row). Counters live
  * in the companion so executor-side copies (same JVM under local[*])
  * still increment them. */
class CountingEmbedder(inner: Embedder) extends Embedder {
  def dim: Int = inner.dim
  def embed(labels: Seq[String]): Array[Array[Float]] = {
    CountingEmbedder.calls.incrementAndGet()
    CountingEmbedder.labels.addAndGet(labels.size)
    inner.embed(labels)
  }
}
object CountingEmbedder {
  val calls = new java.util.concurrent.atomic.AtomicLong
  val labels = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = { calls.set(0); labels.set(0) }
}

/** End-to-end KG pipeline: extract→link→insert over the synthetic webtext
  * corpus; determinism across parallelism; resume-from-checkpoint equality
  * (SURVEY.md §5.3 item 5). */
class PipelineSpec extends SparkSpecBase {

  private def corpus(n: Int, parts: Int) =
    WebtextGen.generate(spark, n, parts)
      .select(col("url"), graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))

  private def htmlCorpus(n: Int, parts: Int) =
    WebtextGen.generate(spark, n, parts).select(col("url"), col("html"))

  private def cfg(rounds: Int) = KgPipeline.PipelineConfig(
    rounds = rounds, maxCandidatesPerRound = 40, minMentionFreq = 2)

  private def tripleSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] = {
    import spark.implicits._
    df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
  }

  private def phaseOf(e: SparkListenerJobStart): String =
    String.valueOf(e.properties.getProperty(KgPipeline.StageProperty))

  /** The start event of every Spark job `f` starts. */
  private def jobStarts(f: => Unit): Seq[SparkListenerJobStart] = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e)
    }
    def markerSeen = starts.iterator.asScala.exists(phaseOf(_) == "marker")
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      // listener events arrive asynchronously and in order: once a marker
      // job's start is seen, every earlier job's has been too
      spark.sparkContext.setLocalProperty(KgPipeline.StageProperty, "marker")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty(KgPipeline.StageProperty, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "listener saw no marker job")
      starts.iterator.asScala.filter(phaseOf(_) != "marker").toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The `StageProperty` phase of every Spark job `f` starts. */
  private def jobPhases(f: => Unit): Seq[String] = jobStarts(f).map(phaseOf)

  private def fullRows(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select("subj", "pred", "obj", "src_round", "lineage")
      .as[(String, String, String, Int, String)].collect().sortBy(_.toString).toSeq
  }

  test("driver-contract entry() yields triples") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("pipeline emits placements for extracted mentions") {
    val ckpt = Files.createTempDirectory("kg1").toString
    val res = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(1), ckpt)
    val triples = tripleSet(res.triples)
    assert(triples.nonEmpty)
    // every mention is "modifier head" with head under a known category —
    // the domain scorer must place at least one under its head concept
    assert(triples.exists { case (s, p, o) => p == "isA" && s.endsWith(" " + o) },
      s"no mention placed under its head concept: ${triples.take(10)}")
    // lineage rows recorded per partition
    assert(res.lineage.count() > 0)
  }

  test("prior-score slice is bounded to candidate-relevant pairs (M4)") {
    import spark.implicits._
    val store = Seq(("a", "x", 0.9), ("b", "y", 0.1), ("z", "a", 0.5), ("q", "r", 0.2))
      .toDF("subLabel", "supLabel", "p")
    val cands = Seq(("a", 3L), ("x", 2L), ("c", 2L)).toDF("mention", "freq")
    val slice = KgPipeline.priorsByMention(cands, store)
      .as[(String, Seq[(String, String, Double)])].collect()
      .map { case (m, ps) => m -> ps.toSet }.toMap
    // per candidate, only the pairs touching it on either side: (a,x)
    // lands in both groups, (z,a) only in a's — the history rows for b/q
    // never reach the driver or the broadcast, and candidate c, which no
    // pair touches, has no group
    assert(slice == Map("a" -> Set(("a", "x", 0.9), ("z", "a", 0.5)),
      "x" -> Set(("a", "x", 0.9))))
  }

  test("the candidate list equals the anti-join top-k query it replaced") {
    import spark.implicits._
    import graft.lexical.Tokenset
    // one bigram per page, `n` pages each: ties at the 3rd and 4th places,
    // "join joins" with the hash of the label "join", "tables scan" with
    // that of the label "table scan" and "queries plans" with that of the
    // resolved mention "query plan"
    val freqs = Seq("alpha beta" -> 6, "join joins" -> 5, "tables scan" -> 5,
      "queries plans" -> 5, "gamma delta" -> 4, "kappa lambda" -> 3, "omega sigma" -> 3,
      "theta iota" -> 3, "rho tau" -> 3, "zeta eta" -> 1)
    val pages = spark.sparkContext
      .parallelize(scala.util.Random.shuffle(freqs.flatMap { case (m, n) => Seq.fill(n)(m) }), 3)
      .toDF("text")
    val taxo = KgPipeline.seedTaxo()
    taxo.addNode(100L, Some("table scan"))
    taxo.addEdge(100L, 12L, "original")
    val resolved = Seq("query plan")
    // the query, over the column path's counts: a left-anti join of the
    // mention hashes against the label and resolved hashes, top k by
    // (freq desc, mention asc)
    val hashUdf = udf((m: String) => Tokenset.hash64(m))
    val lexHashes = (taxo.nodes.map(n => Tokenset.hash64(taxo.getLabel(n))) ++
      resolved.map(Tokenset.hash64)).toDF("h")
    def reference(k: Int) = KgPipeline.extractMentions(pages, "text", 2L)
      .withColumn("h", hashUdf(col("mention")))
      .join(lexHashes, Seq("h"), "left_anti")
      .orderBy(desc("freq"), asc("mention")).limit(k)
      .select("mention").as[String].collect().sorted.toSeq
    assert(reference(4) == Seq("alpha beta", "gamma delta", "kappa lambda", "omega sigma"))
    for (html <- Seq(false, true); k <- Seq(3, 4, 20); chunkRows <- Seq(k, 1)) {
      val counts = KgPipeline.mentionCounts(pages, "text", 2L, html)
      val got = KgPipeline.candidateList(spark, counts, taxo, resolved.iterator, k, chunkRows) match {
        case Left(list) => list.toSeq
        case Right(df) => df.as[String].collect().sorted.toSeq
      }
      assert(got == reference(k), s"html $html, k $k, chunks of $chunkRows")
    }
  }

  test("pipeline output is identical across parallelism levels") {
    val c1 = Files.createTempDirectory("kgp1").toString
    val c2 = Files.createTempDirectory("kgp2").toString
    val r1 = KgPipeline.run(spark, corpus(300, 1), "text", KgPipeline.domainModels(), cfg(1), c1)
    val r2 = KgPipeline.run(spark, corpus(300, 7), "text", KgPipeline.domainModels(), cfg(1), c2)
    assert(tripleSet(r1.triples) == tripleSet(r2.triples))
  }

  test("ANN decide path (BandedIndex + fanout cap) runs end-to-end and is deterministic") {
    // annNodeThreshold below the seed taxonomy size forces every decide
    // round through the banded-LSH seed retrieval + capped search-space
    // build — the 10⁶-node scale path (BENCH/BASELINE.md §9b), exercised
    // here at test scale. Approximate retrieval may legitimately differ
    // from the exact path's decisions; the contract is completion,
    // placements, and run-to-run determinism.
    val annCfg = cfg(1).copy(annNodeThreshold = 10)
    val r1 = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), annCfg, Files.createTempDirectory("kgann1").toString)
    val r2 = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), annCfg, Files.createTempDirectory("kgann2").toString)
    val t1 = tripleSet(r1.triples)
    assert(t1.nonEmpty)
    assert(t1 == tripleSet(r2.triples), "ANN decide path must be deterministic")
  }

  test("ANN decide path resume: persisted RHP center keeps resumed probes identical") {
    import spark.implicits._
    // annNodeThreshold below the seed size ⇒ BandedIndex from round 1; the
    // banded probe hashes against the cached center, which is persisted in
    // the checkpoint — a resumed run must NOT recompute a different center
    // from its (larger) resume-time snapshot and probe different buckets
    val annCfg = cfg(2).copy(annNodeThreshold = 10)
    val full = Files.createTempDirectory("kgannfull").toString
    val part = Files.createTempDirectory("kgannpart").toString
    val rFull = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), annCfg, full)
    KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), annCfg.copy(rounds = 1), part)
    assert(Files.exists(java.nio.file.Paths.get(s"$part/round=1/center.txt")),
      "banded-path checkpoint must persist the RHP center")
    val rResumed = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), annCfg, part)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().sortBy(_.toString).toSeq
    assert(rows(rResumed.triples) == rows(rFull.triples))
  }

  test("resume from round-1 checkpoint reproduces the full 2-round output") {
    val full = Files.createTempDirectory("kgfull").toString
    val part = Files.createTempDirectory("kgpart").toString
    val rFull = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), full)
    // simulate a kill after round 1: run 1 round into `part`...
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), part)
    assert(KgPipeline.lastCompleteRound(part) == 1)
    // ...then resume with the 2-round config
    val rResumed = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), part)
    assert(tripleSet(rResumed.triples) == tripleSet(rFull.triples))
    // full-row comparison INCLUDING src_round/lineage: a resumed run must
    // carry the pre-crash rounds' provenance (round-2 regression: allDeltas
    // wasn't checkpointed, so resumed triples reported src_round = 0)
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().sortBy(r => r.toString)
    assert(rows(rResumed.triples).toSeq == rows(rFull.triples).toSeq)
    assert(rResumed.roundsRun == 1) // only round 2 re-ran
    // the resumed round-sized round spreads its decide stage over
    // min(defaultParallelism, n) tasks
    val decide2 = rResumed.lineage.filter(col("stage") === "decide" && col("round") === 2)
      .select("rowsIn").as[Long].collect()
    val n2 = decide2.sum
    assert(n2 > 1, s"round 2 decided $n2 candidates")
    assert(decide2.length == math.min(spark.sparkContext.defaultParallelism.toLong, n2))
  }

  test("decide stage embeds through the batch-64 model contract (M1)") {
    val taxo = KgPipeline.seedTaxo()
    val models = KgPipeline.domainModels()
      .copy(emb = new CountingEmbedder(new HashNgramEmbedder(64)))
    val cands = (1 to 200).map(i => (s"cand$i label", Seq.empty[KgPipeline.ScoredPair], Nil))
    CountingEmbedder.reset()
    val (ctx, _) = KgPipeline.decideSetup(spark, taxo, models,
      KgPipeline.PipelineConfig(), 1, null, null)
    val res = KgPipeline.decideChunk(spark, ctx, cands)
    assert(res.decisions.length == 200)
    val calls = CountingEmbedder.calls.get()
    val labs = CountingEmbedder.labels.get()
    // all 200 candidates + the snapshot were embedded...
    assert(labs >= 200L + taxo.numberOfNodes, s"labels=$labs")
    // ...but in ≤64-label chunks: one call per task (4 tasks of 50 at
    // local[4]) + 1 snapshot call, NOT one call per candidate (the round-3
    // embedOne-per-row bug)
    assert(calls <= 8, s"embedder invoked $calls times for $labs labels")
  }

  test("distributed canonicalize embeds in ≤64-label chunks (M1)") {
    val n = 12000 // > the 10k driver-path bound ⇒ Spark path
    val taxo = new graft.taxo.MutableTaxo
    val concepts = (0 until n).map(i => (s"alpha$i beta${i * 7} gamma${i * 13}", 100000L + i))
    concepts.foreach { case (l, id) => taxo.addNode(id, Some(l)) }
    val models = KgPipeline.domainModels()
      .copy(emb = new CountingEmbedder(new HashNgramEmbedder(64)))
    CountingEmbedder.reset()
    KgPipeline.canonicalize(spark, taxo, concepts, models, 0.999)
    val calls = CountingEmbedder.calls.get()
    val labs = CountingEmbedder.labels.get()
    assert(labs >= n, s"labels=$labs")
    assert(labs.toDouble / calls >= 32, s"$calls calls for $labs labels — per-row embedding?")
  }

  test("decide index is incremental across rounds (R3/R5): round 2 embeds only the delta") {
    import spark.implicits._
    val ckpt = Files.createTempDirectory("kginc").toString
    val res = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), ckpt)
    val idx = res.lineage.filter(col("stage") === "index_build")
      .select("round", "rowsIn", "rowsOut")
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(idx.length == 2)
    val (_, in1, out1) = idx(0)
    val (_, in2, out2) = idx(1)
    assert(out1 == in1, "cold cache must embed the whole snapshot once")
    assert(in2 > in1, "round 1 should have minted concepts")
    // round 1's canonicalize stage preloads every mint's embedding into
    // the cache, so round 2's sync finds NOTHING missing — the decide
    // index re-embeds zero labels per steady-state round
    assert(out2 == 0,
      s"round 2 embedded $out2 of $in2 — mint embeddings should arrive via canonicalize preload")
  }

  test("delta checkpoints + compaction: resume matches the uninterrupted run bit-for-bit") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().sortBy(_.toString).toSeq
    val c3 = cfg(3).copy(compactEvery = 2) // rounds 1,3 delta-only; round 2 full snapshot
    val full = Files.createTempDirectory("kgc_full").toString
    val rFull = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), c3, full)
    // resume across a delta-only round (base = seed, replay round-1 delta)
    val p1 = Files.createTempDirectory("kgc_p1").toString
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(),
      c3.copy(rounds = 1), p1)
    assert(!Files.exists(java.nio.file.Paths.get(s"$p1/round=1/nodes")),
      "round 1 must checkpoint a delta, not a full snapshot")
    assert(Files.exists(java.nio.file.Paths.get(s"$p1/round=1/nodes_delta")))
    val r1 = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), c3, p1)
    assert(rows(r1.triples) == rows(rFull.triples))
    // resume from a compaction round (base = round-2 full snapshot)
    val p2 = Files.createTempDirectory("kgc_p2").toString
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(),
      c3.copy(rounds = 2), p2)
    assert(Files.exists(java.nio.file.Paths.get(s"$p2/round=2/nodes")),
      "round 2 must have compacted a full snapshot")
    val r2 = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), c3, p2)
    assert(rows(r2.triples) == rows(rFull.triples))
  }

  test("distributed banded retrieval matches the broadcast BandedIndex seed-for-seed") {
    import spark.implicits._
    import graft.retrieve.{BandedIndex, DistributedBandedRetrieve}
    val dim = 64
    def vec(seed: Long): Array[Float] = {
      var x = seed
      Array.fill(dim) {
        x = x * 6364136223846793005L + 1442695040888963407L
        ((x >>> 33).toInt % 1000) / 1000.0f - 0.45f
      }
    }
    val n = 3000
    val ids = (0L until n).toArray
    val vs = ids.map(vec)
    val center = {
      val c = new Array[Double](dim)
      for (v <- vs; i <- 0 until dim) c(i) += v(i)
      c.map(_ / n)
    }
    val index = new BandedIndex(ids, vs, center)
    // half near-duplicate queries (guaranteed bucket hits), half random
    val queries = (0 until 100).map(i => (s"dup$i", vs(i * 17).clone())) ++
      (0 until 100).map(i => (s"rnd$i", vec(100000L + i)))
    val k = 5
    val out = DistributedBandedRetrieve.seeds(spark,
        queries.toDF("mention", "qvec"), ids.zip(vs).toSeq.toDF("vec_id", "embedding"),
        center, dim, k)
      .as[(String, Array[Long])].collect().toMap
    for ((m, q) <- queries) {
      val expect = index.search(q, k)._2.toSeq
      assert(out.get(m).map(_.toSeq).getOrElse(Nil) == expect, s"query $m")
    }
    assert(queries.count { case (m, _) => out.get(m).exists(_.nonEmpty) } >= 100)
  }

  test("distributed-retrieve decide path is deterministic and resumable (the 10^7 escape hatch)") {
    import spark.implicits._
    // both thresholds lowered together: the config enforces the regime
    // total order (annNodeThreshold <= distributedRetrieveNodes)
    def dcfg(rounds: Int) =
      cfg(rounds).copy(annNodeThreshold = 10, distributedRetrieveNodes = 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().sortBy(_.toString).toSeq
    val c1 = Files.createTempDirectory("kgd1").toString
    val c2 = Files.createTempDirectory("kgd2").toString
    val part = Files.createTempDirectory("kgdp").toString
    val r1 = KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), dcfg(2), c1)
    // crossover round writes the full embedding store; later rounds deltas
    assert(Files.exists(java.nio.file.Paths.get(s"$c1/round=1/embeddings")))
    assert(Files.exists(java.nio.file.Paths.get(s"$c1/round=2/emb_delta")))
    // the distributed path emits retrieve_dist lineage, not index_build
    assert(r1.lineage.filter(col("stage") === "retrieve_dist").count() == 2)
    assert(r1.lineage.filter(col("stage") === "index_build").count() == 0)
    val r2 = KgPipeline.run(spark, corpus(300, 7), "text", KgPipeline.domainModels(), dcfg(2), c2)
    assert(rows(r1.triples) == rows(r2.triples), "distributed decide must be deterministic")
    assert(rows(r1.triples).nonEmpty)
    // chunks of 7: the streamed candidate list carries the round's seeds
    val c3 = Files.createTempDirectory("kgd3").toString
    val r3 = KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), dcfg(2), c3,
      htmlInput = false, 7)
    assert(rows(r3.triples) == rows(r1.triples), "chunked distributed decide")
    assert(r3.lineage.filter(col("stage") === "retrieve_dist").count() == 2)
    // kill after round 1 → resume: the store + frozen center reload from
    // the checkpoint and the result is full-row identical
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), dcfg(1), part)
    val rR = KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), dcfg(2), part)
    assert(rows(rR.triples) == rows(r1.triples))
  }

  test("maxSnapshotNodes bound fails fast with sizing guidance") {
    val ckpt = Files.createTempDirectory("kgbound").toString
    val e = intercept[IllegalStateException] {
      KgPipeline.run(spark, corpus(100, 2), "text", KgPipeline.domainModels(),
        cfg(1).copy(maxSnapshotNodes = 10), ckpt)
    }
    assert(e.getMessage.contains("maxSnapshotNodes"))
    assert(e.getMessage.contains("-Xmx"))
  }

  test("driver union-find equals distributed connectedComponents on the same pairs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 14L), (14L, 11L),
      (100L, 50L), (50L, 60L), (60L, 100L), (8L, 8L))
    // driverPairLimit = 0 forces the DISTRIBUTED fixpoint: with the round-6
    // regime switch the default path would union-find on the driver and
    // this test would compare union-find to itself
    val dist = graft.spark.GraphOps.connectedComponents(pairs.toDF("a", "b"),
        driverPairLimit = 0L)
      .filter(col("node") =!= col("component"))
      .as[(Long, Long)].collect().toMap
    assert(graft.spark.GraphOps.unionFindMinId(pairs.toArray) == dist)
  }

  test("connectedComponents driver regime equals the distributed fixpoint") {
    import spark.implicits._
    // chains (the pointer-jumping worst case), a cycle, a self-loop, and
    // isolated-from-each-other cliques — compare FULL (node, component)
    // row sets across both regimes, not just the non-root entries
    val pairs = (1L to 40L).map(i => (i, i + 1)) ++
      Seq((100L, 103L), (103L, 101L), (101L, 100L), (7L, 7L), (200L, 250L))
    val df = pairs.toDF("a", "b")
    val viaDriver = graft.spark.GraphOps.connectedComponents(df)
      .as[(Long, Long)].collect().toSet
    val viaFixpoint = graft.spark.GraphOps.connectedComponents(df, driverPairLimit = 0L)
      .as[(Long, Long)].collect().toSet
    assert(viaDriver == viaFixpoint)
    assert(viaDriver.nonEmpty)
  }

  test("unionFindMinId stays linear on adversarial chain-ordered pairs") {
    // descending pair order builds a depth-n parent chain without path
    // compression, making the closing find-per-key pass O(n²) — a
    // multi-minute stall at this size, milliseconds with compression
    val n = 100000
    val pairs = Array.tabulate(n)(i => ((n - 1 - i).toLong, (n - i).toLong))
    val m = graft.spark.GraphOps.unionFindMinId(pairs)
    assert(m.size == n)
    assert((1 to n).forall(k => m(k.toLong) == 0L))
  }

  test("canonicalize preload decision uses the POST-merge node count") {
    def mintedTaxo(): graft.taxo.MutableTaxo = {
      val t = new graft.taxo.MutableTaxo
      t.addNode(0L, Some("root"))
      for ((l, id) <- Seq(("dup label", 10L), ("dup label", 11L), ("other thing", 12L))) {
        t.addNode(id, Some(l)); t.addEdge(id, 0L, "new")
      }
      t
    }
    val concepts = Seq(("dup label", 10L), ("dup label", 11L), ("other thing", 12L))
    val models = KgPipeline.domainModels()
    // pre-merge count 4 > bound 3, but the merge (11 -> 10) brings it back
    // to 3: the next round runs the broadcast path, so the preload MUST
    // happen — skipping it (the old pre-merge call-site check) would make
    // that round's sync re-embed every survivor
    val cache = new graft.retrieve.SnapshotEmbeddings(models.emb.dim)
    val res = KgPipeline.canonicalize(spark, mintedTaxo(), concepts, models,
      0.999, cache, 1, preloadMaxNodes = 3)
    assert(res.merge == Map(11L -> 10L))
    assert(cache.size == 2) // survivors only, never the merged dup
    // genuinely staying above the bound post-merge skips the preload
    val cache2 = new graft.retrieve.SnapshotEmbeddings(models.emb.dim)
    KgPipeline.canonicalize(spark, mintedTaxo(), concepts, models,
      0.999, cache2, 1, preloadMaxNodes = 2)
    assert(cache2.size == 0)
  }

  test("pipeline move round: distributed examine, checkpointed decisions, resume equality") {
    import spark.implicits._
    import graft.core.MoveConfig
    val mv = Some(MoveConfig(mode = "auto", method = "search",
      selectionFeatures = Seq("parent"), weights = Seq(1.0), threshold = 0.3))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().sortBy(_.toString).toSeq
    val full = Files.createTempDirectory("kgmv_full").toString
    val rFull = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2).copy(move = mv), full)
    val fullRows = rows(rFull.triples)
    // the move actually moved something (or at least examined: moved-edge
    // triples exist — minted leaves re-parented with `moved` lineage)
    assert(fullRows.exists(_._5 == "moved"), "expected moved-lineage triples")
    assert(Files.exists(java.nio.file.Paths.get(s"$full/move/COMMIT")))
    // crash before the move (simulated: insert rounds complete, no move
    // ran) → resume computes the move from the resumed taxonomy; result
    // must be full-row identical to the uninterrupted run
    val part = Files.createTempDirectory("kgmv_part").toString
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), part)
    val rResumed = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2).copy(move = mv), part)
    assert(rows(rResumed.triples) == fullRows)
    // re-run over the COMPLETED checkpoint: the committed move decisions
    // are REPLAYED, not recomputed — still bit-identical
    val rReplay = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2).copy(move = mv), full)
    assert(rows(rReplay.triples) == fullRows)
    // EXTENDING a completed checkpoint with more rounds must RECOMPUTE
    // the move on the new taxonomy (the marker records the insert-round
    // count it was computed at) — replaying round-2-era decisions against
    // the round-3 taxonomy would silently skip the new mints
    val fresh3 = Files.createTempDirectory("kgmv_f3").toString
    val rFresh3 = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(3).copy(move = mv), fresh3)
    val rExt3 = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(3).copy(move = mv), full)
    assert(rows(rExt3.triples) == rows(rFresh3.triples))
    // a CHANGED MoveConfig over the completed checkpoint must also
    // recompute (the marker fingerprints the config, not just the round
    // count): capping the outer loop at 1 target must yield exactly one
    // moved-lineage triple, not a replay of the uncapped decision file
    val mvCapped = mv.map(_.copy(maxOuterLoop = Some(1)))
    val rCapped = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(3).copy(move = mvCapped), full)
    val movedCapped = rows(rCapped.triples).count(_._5 == "moved")
    val movedUncapped = rows(rExt3.triples).count(_._5 == "moved")
    assert(movedCapped >= 1 && movedCapped < movedUncapped,
      s"changed move config must recompute, not replay the old decisions " +
        s"(capped=$movedCapped, uncapped=$movedUncapped)")
  }

  test("commitStream records label flips (existing-edge 'original'→'new' overwrites)") {
    val t = KgPipeline.seedTaxo()
    // eqv resolves to existing node 11 ("join") and proposes its existing
    // seed parent 1 ("operation"): addEdge returns 1 and rewrites the live
    // edge label in place — the flip must surface for the edge delta or a
    // resumed run replays 'original' and label-filtered traversal diverges
    val d = KgPipeline.DecisionRow("join", Some(11L), Some(1.0), Seq((1L, 0.9)), Nil)
    val res = KgPipeline.commitStream(t, Seq(d).sortBy(_.label).iterator, 1000L, 1)
    assert(res.delta.isEmpty && res.newConcepts.isEmpty)
    assert(res.labelFlips == Seq((11L, 1L)))
    assert(t.succ(11L)(1L) == "new")
  }

  test("inserted concepts carry edges to existing taxonomy nodes only after cycle screening") {
    val ckpt = Files.createTempDirectory("kgcy").toString
    val res = KgPipeline.run(spark, corpus(200, 4), "text",
      KgPipeline.domainModels(), cfg(1), ckpt)
    // result taxonomy must still be a DAG: transitive reduction is a no-op
    // on edge count only if acyclic reachability holds; assert via closure
    val t = res.taxo
    for (n <- t.nodes) assert(!t.getAncestors(n).contains(n), s"cycle at $n")
  }

  /** Runs `c` with decide chunks of 1 and 7 candidates and with whole
    * rounds (chunks of [[KgPipeline.DriverRows]]: one collected chunk), and
    * checks that all three write the same triples and checkpoint tables in
    * every round, and that every chunk runs min(defaultParallelism, n)
    * decide tasks. Returns the whole-round run's directory and result. */
  private def chunkSizesAgree(c: KgPipeline.PipelineConfig, corp: org.apache.spark.sql.DataFrame,
                              name: String): (String, KgPipeline.RunResult) = {
    import spark.implicits._
    val runs = Seq(1, 7, KgPipeline.DriverRows).map { k =>
      val dir = Files.createTempDirectory(s"${name}_$k").toString
      (k, dir, KgPipeline.run(spark, corp, "text", KgPipeline.domainModels(),
        c.copy(maxCandidatesPerRound = KgPipeline.DriverRows), dir, htmlInput = false, k))
    }
    val (_, whole, rWhole) = runs.last
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(rWhole.triples).nonEmpty)
    assert(rows(spark.read.parquet(s"$whole/triples")) == rows(rWhole.triples))
    for ((k, dir, res) <- runs.init) {
      assert(rows(res.triples) == rows(rWhole.triples), s"chunk $k triples")
      for (r <- 1 to c.rounds; t <- Seq("nodes_delta", "edges_delta", "scored_pairs_delta",
                                        "deltas", "sameas")) {
        val a = spark.read.parquet(s"$whole/round=$r/$t")
        val b = spark.read.parquet(s"$dir/round=$r/$t")
        assert(a.schema == b.schema, s"chunk $k round $r $t schema")
        assert(rows(a) == rows(b), s"chunk $k round $r $t rows")
      }
    }
    // decide lineage in run order, where a chunk's tasks are partitions
    // 0, 1, ...: every run has the same per-round totals, chunk sizes are
    // k, ..., k, rest, and each chunk runs min(defaultParallelism, n) tasks
    def decideRows(res: KgPipeline.RunResult) =
      res.lineage.filter($"stage" === "decide")
        .select("round", "partitionId", "rowsIn", "rowsOut", "scoredPairs")
        .as[(Int, Int, Long, Long, Long)].collect().toSeq
    def totals(res: KgPipeline.RunResult) = decideRows(res).groupBy(_._1).map { case (r, xs) =>
      r -> (xs.map(_._3).sum, xs.map(_._4).sum, xs.map(_._5).sum) }
    assert(totals(rWhole).keySet == (1 to c.rounds).toSet)
    val dp = spark.sparkContext.defaultParallelism.toLong
    for ((k, _, res) <- runs) {
      assert(totals(res) == totals(rWhole), s"chunk $k decide totals")
      for (r <- 1 to c.rounds) {
        val xs = decideRows(res).filter(_._1 == r)
        val chunks = xs.foldLeft(Vector.empty[Vector[Long]]) { (acc, x) =>
          if (x._2 == 0) acc :+ Vector(x._3) else acc.init :+ (acc.last :+ x._3)
        }
        val n = xs.map(_._3).sum
        val sizes =
          if (n == 0) Seq(0L) else Seq.fill((n / k).toInt)(k.toLong) ++ Seq(n % k).filter(_ > 0)
        assert(chunks.map(_.sum) == sizes, s"chunk $k round $r chunk sizes")
        for (ch <- chunks)
          assert(ch.size == math.min(dp, math.max(1L, ch.sum)),
            s"chunk $k round $r: ${ch.size} decide tasks for ${ch.sum} candidates")
      }
    }
    (whole, rWhole)
  }

  test("decide chunks of 1, 7 and a whole round write the same checkpoint and triples") {
    // every candidate of this corpus fits the DriverRows cap, so each
    // chunk size decides the same candidates
    val (whole, _) = chunkSizesAgree(cfg(2), corpus(300, 4), "kgreg")
    assert(spark.read.parquet(s"$whole/round=1/scored_pairs_delta").count() > 0)
  }

  test("decide chunks of 1, 7 and a whole round agree on a non-empty prior slice") {
    import spark.implicits._
    // one retrieval seed crops each search space to the seed's subtree, so
    // round 1 places "batch query" and rejects the other mentions (no eqv,
    // no sup); commitStream skips those, and they return in round 2 with
    // the same seeds and their round-1 pairs as prior slice
    val c = cfg(2).copy(retrieveSize = 1)
    val corp = Seq("batch query", "tabled rowing", "hashing keying", "joiner sorter",
      "scanner filterer").flatMap(Seq.fill(3)(_)).toDF("text")
    val (local, rLocal) = chunkSizesAgree(c, corp, "kgslice")
    // round 2's candidates, recomputed: every mention that is neither a
    // label of the round-1 taxonomy nor resolved by a round-1 sameAs
    val seed = KgPipeline.seedTaxo()
    val known = (seed.nodes.map(seed.getLabel) ++
      spark.read.parquet(s"$local/round=1/nodes_delta").select("label").as[String].collect() ++
      spark.read.parquet(s"$local/round=1/sameas").select("a").as[String].collect())
      .map(graft.lexical.Tokenset.hash64).toSet
    val cands2 = KgPipeline.extractMentions(corp, "text", c.minMentionFreq)
      .select("mention").as[String].collect()
      .filterNot(m => known(graft.lexical.Tokenset.hash64(m)))
    val decided2 = rLocal.lineage.filter($"stage" === "decide" && $"round" === 2)
      .select("rowsIn").as[Long].collect().sum
    assert(cands2.length > 1 && cands2.length == decided2, s"${cands2.length} vs $decided2")
    val slice = KgPipeline.priorsByMention(cands2.toSeq.toDF("mention"),
      spark.read.parquet(s"$local/round=1/scored_pairs_delta"))
    assert(slice.count() > 0, "round 2's prior slice is empty")
    // the slice served round 2: it re-scored no pair round 1 had scored
    def pairs(r: Int) = spark.read.parquet(s"$local/round=$r/scored_pairs_delta")
      .select("subLabel", "supLabel").as[(String, String)].collect().toSet
    assert(pairs(1).intersect(pairs(2)).isEmpty)
  }

  test("decide chunks of 1 see the frozen snapshot, as one whole-round chunk") {
    import spark.implicits._
    // a non-strict search space also holds nodes off the seeds' paths, so
    // a node committed earlier in the round is visible to a later mention:
    // had "big join" (first in label order) landed before "big operation"
    // decided, the latter would take it as a sub
    val c = cfg(1).copy(icon = cfg(1).icon.copy(subgraphStrict = false))
    val corp = (Seq.fill(4)("big join") ++ Seq.fill(3)("big operation")).toDF("text")
    def triples(res: KgPipeline.RunResult) =
      res.triples.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().toSet
    val bigJoinUnderBigOp = ("big join", "isA", "big operation")
    // the corpus is order-sensitive: one mention per round, so "big
    // operation" decides after "big join" has committed
    val seqRes = KgPipeline.run(spark, corp, "text", KgPipeline.domainModels(),
      c.copy(rounds = 2, maxCandidatesPerRound = 1),
      Files.createTempDirectory("kgfrozen_seq").toString)
    assert(triples(seqRes).exists(t => (t._1, t._2, t._3) == bigJoinUnderBigOp))
    val whole = Files.createTempDirectory("kgfrozen_whole").toString
    val one = Files.createTempDirectory("kgfrozen_one").toString
    val rWhole = KgPipeline.run(spark, corp, "text", KgPipeline.domainModels(), c, whole,
      htmlInput = false, KgPipeline.DriverRows)
    val rOne = KgPipeline.run(spark, corp, "text", KgPipeline.domainModels(), c, one,
      htmlInput = false, 1)
    assert(!triples(rWhole).exists(t => (t._1, t._2, t._3) == bigJoinUnderBigOp))
    assert(triples(rOne) == triples(rWhole))
    val decided = rOne.lineage.filter($"stage" === "decide").select("rowsIn").as[Long].collect()
    assert(decided.toSeq == Seq(1L, 1L), s"one task per one-mention chunk: ${decided.toSeq}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    for (t <- Seq("nodes_delta", "edges_delta", "scored_pairs_delta", "deltas", "sameas"))
      assert(rows(spark.read.parquet(s"$one/round=1/$t")) ==
        rows(spark.read.parquet(s"$whole/round=1/$t")), t)
  }

  test("resume over a killed round's leftover parts equals the uninterrupted run") {
    import spark.implicits._
    import java.nio.file.{Paths => JPaths, StandardCopyOption}
    val full = Files.createTempDirectory("kgkill_full").toString
    val part = Files.createTempDirectory("kgkill_part").toString
    val rFull = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), full)
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), part)
    // what a run killed in round 2 leaves: a fresh-pairs part beyond the
    // ones the resumed round writes, and an older binary's decisions
    // spill, with no COMMIT marker
    val rd = s"$part/round=2"
    Files.createDirectories(JPaths.get(s"$rd/scored_pairs_delta"))
    Files.copy(JPaths.get(s"$part/round=1/scored_pairs_delta/part-00000.snappy.parquet"),
      JPaths.get(s"$rd/scored_pairs_delta/part-00042.snappy.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Seq(KgPipeline.DecisionRow("stale label", None, None, Seq((1L, 0.9)), Nil)).toDS()
      .write.parquet(s"$rd/decisions")
    assert(KgPipeline.lastCompleteRound(part) == 1)
    // the resumed round decides in chunks of 7, so it writes several parts
    val rResumed = KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(),
      cfg(2), part, htmlInput = false, 7)
    assert(rResumed.roundsRun == 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(rResumed.triples) == rows(rFull.triples))
    for (t <- Seq("nodes_delta", "edges_delta", "scored_pairs_delta", "deltas", "sameas"))
      assert(rows(spark.read.parquet(s"$rd/$t")) ==
        rows(spark.read.parquet(s"$full/round=2/$t")), t)
  }

  test("a round-sized round's checkpoint phase starts no Spark job") {
    val ckpt = Files.createTempDirectory("kgjobs").toString
    val seen = jobPhases {
      KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), ckpt)
    }
    // a fresh run's round 1 has an empty scored store (no slice collect)
    // and runs its decide tasks as one job
    assert(seen.count(_ == "decide") == 1, s"phases seen: $seen")
    assert(!seen.contains("prior_slice"), s"phases seen: $seen")
    assert(!seen.contains("checkpoint"), s"phases seen: $seen")
  }

  test("a one-chunk round with a prior slice collects its rows in as few jobs as before") {
    import spark.implicits._
    // both rounds fit one chunk. "pairs": round 2's candidates carry
    // round-1 pairs (the non-empty prior-slice corpus); "none": round 2 has
    // a store, but no candidate has a pair. The collects this replaced (a
    // prior slice of two broadcast semi-joins and a distinct) measured, at
    // local[4], 3 prior_slice jobs and 11 in all on "pairs", 2 and 10 on
    // "none"
    val pairs = Seq("batch query", "tabled rowing", "hashing keying", "joiner sorter",
      "scanner filterer").flatMap(Seq.fill(3)(_)).toDF("text")
    for ((name, corp, c, maxSlice, maxJobs) <- Seq(
           ("pairs", pairs, cfg(2).copy(retrieveSize = 1), 3, 11),
           ("none", corpus(300, 4), cfg(2), 2, 10))) {
      val seen = jobPhases {
        KgPipeline.run(spark, corp, "text", KgPipeline.domainModels(), c,
          Files.createTempDirectory(s"kgslice_$name").toString)
      }
      val slice = seen.count(_ == "prior_slice")
      assert(slice > 0 && slice <= maxSlice, s"$name, phases seen: $seen")
      assert(seen.size <= maxJobs, s"$name, phases seen: $seen")
    }
  }

  test("every Spark job of a fresh and of a resumed run carries a phase") {
    // a whole-round chunk, and chunks of 7 (a streamed round); text and
    // html input
    for (k <- Seq(KgPipeline.DriverRows, 7); html <- Seq(false, true)) {
      val corp = if (html) htmlCorpus(300, 4) else corpus(300, 4)
      def run(rounds: Int, dir: String) = KgPipeline.run(spark, corp, if (html) "html" else "text",
        KgPipeline.domainModels(), cfg(rounds), dir, htmlInput = html, k)
      val fresh = jobPhases(run(2, Files.createTempDirectory("kgtag_full").toString))
      val part = Files.createTempDirectory("kgtag_part").toString
      run(1, part)
      val resumed = jobPhases(run(2, part))
      val what = s"chunks of $k, html $html"
      for ((name, seen) <- Seq("fresh" -> fresh, "resumed" -> resumed)) {
        assert(seen.nonEmpty, s"$name run, $what")
        assert(!seen.contains("null"), s"$name run, $what, phases seen: $seen")
      }
      // the resumed run's load reads the round-1 checkpoint with Spark jobs
      assert(resumed.contains("load"), s"$what, phases seen: $resumed")
    }
  }

  test("an html run equals the text run over the extracted text of the same pages") {
    def run(corp: org.apache.spark.sql.DataFrame, column: String, html: Boolean) =
      fullRows(KgPipeline.run(spark, corp, column, KgPipeline.domainModels(), cfg(2),
        Files.createTempDirectory("kghtml").toString, htmlInput = html).triples)
    val fromHtml = run(htmlCorpus(300, 4), "html", html = true)
    assert(fromHtml.exists(_._4 == 2), "no round-2 triple")
    assert(fromHtml == run(corpus(300, 4), "text", html = false))
  }

  test("a one-chunk html round takes its candidate list in one Spark job, from counts cached across rounds") {
    // the candidate query this replaced (aggregate, anti-join, sort and
    // limit over the cast("binary") scan) started 3 candidates jobs per
    // one-chunk html round, at local[4], in round 1 as in round 2
    val scanned = spark.sparkContext.longAccumulator("pages scanned")
    val scan = udf { (h: String) => scanned.add(1); h }.asNondeterministic()
    val corp = htmlCorpus(300, 4).select(col("url"), scan(col("html")).as("html"))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val starts = jobStarts {
      KgPipeline.run(spark, corp, "html", KgPipeline.domainModels(), cfg(2),
        Files.createTempDirectory("kghtmljobs").toString, htmlInput = true)
    }
    val candidates = starts.filter(phaseOf(_) == "candidates")
    assert(candidates.size == 2, s"phases seen: ${starts.map(phaseOf)}")
    // round 2 reads the counts round 1 cached: the corpus is scanned once
    assert(scanned.value == 300L)
    assert(candidates.last.stageInfos.exists(_.rddInfos.exists(
      _.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    // and the cache is released when the run ends
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
  }

  test("compaction with the embedding store: resume from rounds 1 and 2 equals the uninterrupted run") {
    // round 1 crosses into distributed retrieval and writes the full
    // embedding store, round 2 compacts every store, round 3 is deltas
    val c = cfg(3).copy(compactEvery = 2, annNodeThreshold = 10, distributedRetrieveNodes = 10)
    val full = Files.createTempDirectory("kgce_full").toString
    val want = fullRows(KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), c, full).triples)
    assert(want.nonEmpty)
    for (t <- Seq("nodes", "edges", "scored_pairs", "embeddings"))
      assert(Files.exists(java.nio.file.Paths.get(s"$full/round=2/$t")), s"round 2 has no $t")
    assert(Files.exists(java.nio.file.Paths.get(s"$full/round=3/emb_delta")))
    for (k <- Seq(1, 2)) {
      val part = Files.createTempDirectory(s"kgce_p$k").toString
      KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(),
        c.copy(rounds = k), part)
      val resumed = KgPipeline.run(spark, corpus(300, 4), "text",
        KgPipeline.domainModels(), c, part)
      assert(resumed.roundsRun == 3 - k)
      assert(fullRows(resumed.triples) == want, s"resume from round $k")
    }
  }

  test("resume rejects a checkpoint in another layout before any round work") {
    import spark.implicits._
    import java.nio.file.{Path, Paths => JPaths}
    val good = Files.createTempDirectory("kgfmt").toString
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), good)
    def variant(edit: String => Unit): String = {
      val dir = Files.createTempDirectory("kgfmt_v")
      val src = JPaths.get(good)
      val walk = Files.walk(src)
      try walk.forEach((p: Path) =>
        if (p != src) Files.copy(p, dir.resolve(src.relativize(p).toString)))
      finally walk.close()
      edit(s"$dir/round=1")
      dir.toString
    }
    def rmTree(p: String): Unit = {
      val walk = Files.walk(JPaths.get(p))
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach((f: Path) => Files.delete(f))
      finally walk.close()
    }
    // a round whose id allocator was never persisted
    val noMeta = variant(rd => Files.delete(JPaths.get(s"$rd/meta.txt")))
    // full nodes/edges snapshots without the seq insertion order
    val noSeq = variant { rd =>
      val t = KgPipeline.seedTaxo()
      t.nodes.map(n => (n, t.getLabel(n))).toDF("id", "label").write.parquet(s"$rd/nodes")
      t.edges.toDF("src", "dst", "label").write.parquet(s"$rd/edges")
    }
    // a round that wrote its fresh scored pairs some other way
    val noScored = variant(rd => rmTree(s"$rd/scored_pairs_delta"))
    val phases = jobPhases {
      for ((dir, missing) <- Seq(noMeta -> "meta.txt", noSeq -> "column seq",
                                 noScored -> "scored_pairs_delta")) {
        val e = intercept[IllegalStateException](KgPipeline.run(spark, corpus(300, 4), "text",
          KgPipeline.domainModels(), cfg(2), dir))
        for (part <- Seq(s"$dir/round=1", s"has no $missing", "Start a fresh checkpoint dir"))
          assert(e.getMessage.contains(part), s"'$part' not in: ${e.getMessage}")
      }
    }
    assert(!phases.contains("candidates"), s"phases seen: $phases")
  }

  test("a multi-chunk round scans the scored store once for its prior slice") {
    import spark.implicits._
    // the non-empty prior-slice corpus below: round 2 has several
    // candidates, each with round-1 pairs
    val c = cfg(2).copy(retrieveSize = 1, maxCandidatesPerRound = KgPipeline.DriverRows)
    val corp = Seq("batch query", "tabled rowing", "hashing keying", "joiner sorter",
      "scanner filterer").flatMap(Seq.fill(3)(_)).toDF("text")
    val runs = Seq(1, 7).map { k =>
      var res: KgPipeline.RunResult = null
      val phases = jobPhases {
        res = KgPipeline.run(spark, corp, "text", KgPipeline.domainModels(), c,
          Files.createTempDirectory(s"kgslice1_$k").toString, htmlInput = false, k)
      }
      val chunks2 = res.lineage.filter($"stage" === "decide" && $"round" === 2 &&
        $"partitionId" === 0).count()
      (chunks2, phases.count(_ == "prior_slice"), fullRows(res.triples))
    }
    val Seq((chunks1, slice1, rows1), (chunks7, slice7, rows7)) = runs
    assert(chunks1 > chunks7 && chunks7 >= 1, s"round 2 chunks: $chunks1 vs $chunks7")
    // the slice jobs do not grow with the chunk count
    assert(slice1 > 0 && slice1 == slice7, s"prior_slice jobs: $slice1 vs $slice7")
    assert(rows1 == rows7)
  }

  test("near-dup pair kernel equals the round-every-pair form") {
    // the form the kernel replaced: both norms per pair, every cosine
    // rounded HALF_UP to 6 places before the threshold test
    def reference(emb: Array[Array[Float]], threshold: Double): Set[(Int, Int)] = {
      def dot(a: Array[Float], b: Array[Float]) =
        a.indices.foldLeft(0.0)((s, i) => s + a(i).toDouble * b(i).toDouble)
      def norm(a: Array[Float]) = math.sqrt(dot(a, a))
      (for (i <- emb.indices; j <- (i + 1) until emb.length) yield {
        val d = norm(emb(i)) * norm(emb(j))
        val cos = if (d == 0) 0.0 else BigDecimal(dot(emb(i), emb(j)) / d)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (cos >= threshold) Some((i, j)) else None
      }).flatten.toSet
    }
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    // random vectors, near-duplicates among them and a zero vector
    val base = Array.fill(60)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val random = base ++ base.take(20).map(_.map(x => x + 0.05f * rnd.nextGaussian().toFloat)) :+
      new Array[Float](16)
    for (th <- Seq(0.98, 0.5, 0.0))
      assert(KgPipeline.nearDupPairsLocal(random, th).toSet == reference(random, th), s"th=$th")
    // vectors at and within 1e-6 of cosine 0.98 to the first one: u and
    // w orthonormal, v = c·u + sqrt(1 − c²)·w for c around 0.98
    val dim = 32
    val u = unit(Array.fill(dim)(rnd.nextGaussian()))
    val w0 = Array.fill(dim)(rnd.nextGaussian())
    val w = unit(w0.indices.map(i => w0(i) - u.indices.map(k => u(k) * w0(k)).sum * u(i)).toArray)
    val cs = (-25 to 25).map(k => 0.98 + k * 1e-7) ++ Seq(0.9799995, 0.979999, 0.9799985)
    val boundary = u.map(_.toFloat) +: cs.map(c =>
      u.indices.map(i => (c * u(i) + math.sqrt(1 - c * c) * w(i)).toFloat).toArray).toArray
    val got = KgPipeline.nearDupPairsLocal(boundary, 0.98).toSet
    assert(got == reference(boundary, 0.98))
    val withFirst = got.count(_._1 == 0)
    assert(withFirst > 0 && withFirst < cs.size, s"$withFirst of ${cs.size} pairs with u kept")
  }
}
