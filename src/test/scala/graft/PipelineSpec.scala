package graft

import graft.models.{Embedder, HashNgramEmbedder}
import graft.pipeline.KgPipeline
import graft.webtext.WebtextGen
import org.apache.spark.sql.functions._

import java.nio.file.Files

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

  private def cfg(rounds: Int) = KgPipeline.PipelineConfig(
    rounds = rounds, maxCandidatesPerRound = 40, minMentionFreq = 2)

  private def tripleSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String)] = {
    import spark.implicits._
    df.select("subj", "pred", "obj").as[(String, String, String)].collect().toSet
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
    val cands = Seq(("a", 3L)).toDF("mention", "freq")
    val slice = KgPipeline.priorScoreSlice(cands, store)
      .as[(String, String, Double)].collect().toSet
    // only pairs touching candidate "a" on either side — the history rows
    // for b/q never reach the driver or the broadcast
    assert(slice == Set(("a", "x", 0.9), ("z", "a", 0.5)))
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
  }

  test("decide stage embeds through the batch-64 model contract (M1)") {
    import spark.implicits._
    val taxo = KgPipeline.seedTaxo()
    val models = KgPipeline.domainModels()
      .copy(emb = new CountingEmbedder(new HashNgramEmbedder(64)))
    val cands = (1 to 200).map(i => (s"cand$i label", 5L))
      .toDF("mention", "freq").repartition(1)
    CountingEmbedder.reset()
    val res = KgPipeline.decideRound(spark, cands, taxo, models,
      KgPipeline.PipelineConfig(), 1)
    res.release()
    val calls = CountingEmbedder.calls.get()
    val labs = CountingEmbedder.labels.get()
    // all 200 candidates + the snapshot were embedded...
    assert(labs >= 200L + taxo.numberOfNodes, s"labels=$labs")
    // ...but in ≤64-label chunks: ceil(200/64) + 1 snapshot call (+ noise),
    // NOT one call per candidate (the round-3 embedOne-per-row bug)
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

  test("resume falls back to a pre-delta-format scored_pairs store") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val full = Files.createTempDirectory("kgofmt_full").toString
    val part = Files.createTempDirectory("kgofmt_part").toString
    val rFull = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), full)
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), part)
    // simulate a checkpoint written by the pre-delta binary: round 1's
    // delta IS the full store (empty base), so renaming the directory
    // reproduces the old per-round-full-store layout exactly
    JFiles.move(JPaths.get(s"$part/round=1/scored_pairs_delta"),
      JPaths.get(s"$part/round=1/scored_pairs"))
    val rResumed = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), part)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().sortBy(_.toString).toSeq
    assert(rows(rResumed.triples) == rows(rFull.triples))
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

  test("resume from a GENUINE pre-delta-format checkpoint (full nodes/edges, no seq column)") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import org.apache.spark.sql.SaveMode
    val full = Files.createTempDirectory("kgpre_full").toString
    val part = Files.createTempDirectory("kgpre_part").toString
    val rFull = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), full)
    KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), part)
    // rewrite round 1 exactly as the pre-delta binary's checkpoint did:
    // full `nodes`(id,label) / `edges`(src,dst,label) — NO seq column —
    // plus a per-round-full scored_pairs store; no meta.txt / center.txt /
    // *_delta dirs. Reconstruct the round-1 taxonomy from the new-format
    // deltas, then dump it through the old write shape (taxo.nodes /
    // taxo.edges order, coalesce(1)).
    val t = KgPipeline.seedTaxo()
    spark.read.parquet(s"$part/round=1/nodes_delta")
      .select("seq", "id", "label").as[(Long, Long, String)].collect().sortBy(_._1)
      .foreach { case (_, id, l) => t.addNode(id, Some(l)) }
    spark.read.parquet(s"$part/round=1/edges_delta")
      .select("seq", "src", "dst", "label").as[(Long, Long, Long, String)].collect().sortBy(_._1)
      .foreach { case (_, u, v, l) => t.addEdge(u, v, l) }
    val rd = s"$part/round=1"
    t.nodes.map(n => (n, t.getLabel(n))).toDF("id", "label")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$rd/nodes")
    t.edges.toDF("src", "dst", "label")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$rd/edges")
    spark.read.parquet(s"$rd/scored_pairs_delta")
      .write.mode(SaveMode.Overwrite).parquet(s"$rd/scored_pairs_old")
    def rmTree(p: String): Unit = {
      val path = JPaths.get(p)
      if (JFiles.exists(path))
        JFiles.walk(path).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => JFiles.delete(f))
    }
    rmTree(s"$rd/scored_pairs_delta")
    rmTree(s"$rd/nodes_delta")
    rmTree(s"$rd/edges_delta")
    JFiles.deleteIfExists(JPaths.get(s"$rd/meta.txt"))
    JFiles.deleteIfExists(JPaths.get(s"$rd/center.txt"))
    JFiles.move(JPaths.get(s"$rd/scored_pairs_old"), JPaths.get(s"$rd/scored_pairs"))
    // the resume must take the no-seq fallback (id-sorted nodes, file-order
    // edges — the pre-delta binary's own reconstruction) instead of
    // crashing on the missing column, and complete round 2
    val rResumed = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2), part)
    assert(rResumed.roundsRun == 1) // only round 2 re-ran
    assert(tripleSet(rResumed.triples) == tripleSet(rFull.triples))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "src_round", "lineage")
        .as[(String, String, String, Int, String)].collect().sortBy(_.toString).toSeq
    assert(rows(rResumed.triples) == rows(rFull.triples))
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
    assert(KgPipeline.unionFindMinId(pairs.toArray) == dist)
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
    val m = KgPipeline.unionFindMinId(pairs)
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
    val res = KgPipeline.commit(t, Seq(d), 1000L, 1)
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

  test("round-sized and distributed decide rounds write the same checkpoint and triples") {
    import spark.implicits._
    // every candidate of this corpus fits either bound, so the two configs
    // admit the same candidates: one collects the round (LocalRound), the
    // other caches it and shuffles the scored pairs (DistributedRound)
    val local = Files.createTempDirectory("kgreg_local").toString
    val dist = Files.createTempDirectory("kgreg_dist").toString
    def go(maxCands: Int, dir: String) = KgPipeline.run(spark, corpus(300, 4), "text",
      KgPipeline.domainModels(), cfg(2).copy(maxCandidatesPerRound = maxCands), dir)
    val rLocal = go(KgPipeline.DriverRows, local)
    val rDist = go(KgPipeline.DriverRows + 1, dist)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(rLocal.triples) == rows(rDist.triples))
    assert(rows(rLocal.triples).nonEmpty)
    for (r <- 1 to 2; t <- Seq("nodes_delta", "edges_delta", "scored_pairs_delta", "deltas",
                               "sameas")) {
      val a = spark.read.parquet(s"$local/round=$r/$t")
      val b = spark.read.parquet(s"$dist/round=$r/$t")
      assert(a.schema == b.schema, s"round $r $t schema")
      assert(rows(a) == rows(b), s"round $r $t rows")
    }
    assert(spark.read.parquet(s"$local/round=1/scored_pairs_delta").count() > 0)
    assert(rows(spark.read.parquet(s"$local/triples")) == rows(rLocal.triples))
    // the decide tasks' lineage rows match apart from their wall times
    def decideLineage(res: KgPipeline.RunResult) =
      res.lineage.filter($"stage" === "decide").drop("wallMs").collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    assert(decideLineage(rLocal) == decideLineage(rDist))
  }

  test("a round-sized round's checkpoint phase starts no Spark job") {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        stages.add(String.valueOf(e.properties.getProperty(KgPipeline.StageProperty)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val ckpt = Files.createTempDirectory("kgjobs").toString
      KgPipeline.run(spark, corpus(300, 4), "text", KgPipeline.domainModels(), cfg(1), ckpt)
      // listener events arrive asynchronously and in order: once a
      // marker job's start is seen, every pipeline job's has been too
      spark.sparkContext.setLocalProperty(KgPipeline.StageProperty, "marker")
      try spark.range(1).count()
      finally spark.sparkContext.setLocalProperty(KgPipeline.StageProperty, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!stages.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(stages.contains("marker"), "listener saw no marker job")
      val seen = stages.toArray.toSeq
      assert(seen.contains("decide"), s"phases seen: $seen")
      assert(!seen.contains("checkpoint"), s"phases seen: $seen")
    } finally spark.sparkContext.removeSparkListener(listener)
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
