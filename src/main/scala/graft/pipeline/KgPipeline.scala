package graft.pipeline

import graft.core.{IconConfig, IconTraversal, ScoreCache}
import graft.lexical.Tokenset
import graft.models.{CommonTokenGenerator, HashNgramEmbedder, IconModels, TokenContainmentScorer}
import graft.retrieve.VectorIndex
import graft.spark.GraphOps
import graft.taxo.{CycleException, MutableTaxo}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The distributed extract → link → insert KG-construction pipeline
  * (SURVEY.md §7.1): re-expresses ICON's retrieve-rank-insert loop over a
  * web-scale corpus.
  *
  * Per round, against a frozen broadcast taxonomy snapshot:
  *   1. EXTRACT — per-partition mention detection over the corpus (codegen'd
  *      column ops, no UDF): bigram candidates + frequencies.
  *   2. DEDUPE — anti-join mention tokenset-hashes against the taxonomy's
  *      lexical table (the reference's lexical cache P1), keep the top
  *      `maxCandidatesPerRound` by frequency, and slice the scored-pairs
  *      history down to the pairs touching a candidate (sub-score cache
  *      M4). A round-sized round (≤ [[DriverRows]] candidates) collects
  *      its candidates in one action and its slice in a second one,
  *      skipped while the scored store is empty; a larger round
  *      repartitions the candidates and joins the slice onto them.
  *   3. LINK + DECIDE — one task per candidate batch embeds its batch,
  *      kNN-retrieves bases from the broadcast index (ICON manual mode
  *      with auto_bases, icon.py:515-556), and runs the enhanced traversal
  *      (P3) with task-local batched scoring. A round-sized round runs the
  *      tasks as one plain RDD job over the driver-held candidates and
  *      collects decisions, lineage and freshly scored pairs
  *      ([[decideLocal]]); larger rounds run them over the candidate
  *      Dataset and keep decisions and pairs distributed
  *      ([[decideRound]]).
  *   4. COMMIT — decisions, deterministically ordered, merge into the edge
  *      delta on the driver with P4 cycle screening; new ids allocated
  *      densely from max(id)+1.
  *   5. CANONICALIZE — equivalence pairs (eqv decisions + embedding
  *      near-dups among new concepts) → connected components → merge.
  *   6. CHECKPOINT — nodes/edges/scored-pairs/lineage parquet per round +
  *      COMMIT marker: the run is resumable from the last complete round.
  *      Tables built on the driver (deltas, lineage, provenance, a
  *      round-sized round's scored pairs) are written by the driver
  *      ([[LocalParquet]], no Spark job); compaction snapshots and
  *      distributed data by Spark.
  *
  * The corpus is the distributed axis; the taxonomy is broadcast-sized
  * (reference scale: ≤ ~10^6 concepts). Decisions within a round share the
  * frozen snapshot (bulk-synchronous); the commit re-validates in
  * deterministic order, which is the round-parallel analogue of the
  * reference's sequential inserts (SURVEY.md §7.4.2).
  */
object KgPipeline {

  case class PipelineConfig(
      rounds: Int = 2,
      retrieveSize: Int = 5,
      // at most DriverRows (100000) the round is round-sized: its decide
      // output comes to the driver in one collect. A candidate's fresh
      // pairs follow its search space (the retrieveSize seeds' paths, and
      // above annNodeThreshold the maxChildFanout cap), not the snapshot
      // size: 9.95 pairs per candidate against the seed taxonomy, 11.0
      // against resumed 43k-, 196k- and 980k-node snapshots. Measured at
      // the bound (100000 candidates, local[4]): the seed run holds ~180 MB
      // of driver heap after GC (~140 MB pairs, ~16 MB decisions); against
      // the 980k-node snapshot the collected round is 1.1M pairs, ~156 MB
      // of pairs and ~16 MB of decisions, from a 58 MB serialized result
      // (spark.driver.maxResultSize defaults to 1 GB). The round's prior
      // slice is collected too, and is of the same order: its pairs are
      // the ones its candidates scored in earlier rounds, so ≈11 pairs per
      // candidate, ~1.1M pairs at the bound. Above the bound candidates,
      // slice, decisions and pairs stay distributed.
      maxCandidatesPerRound: Int = 500,
      minMentionFreq: Long = 2L,
      icon: IconConfig = IconConfig(mode = "manual", inputConcepts = Seq("_")),
      cosineMergeThreshold: Double = 0.98,
      // decide-stage seed retrieval switches from exact VectorIndex search
      // (reference semantics, vector_index.py exhaustive=True) to banded
      // RHP-LSH (graft.retrieve.BandedIndex) above this snapshot size
      annNodeThreshold: Int = 50000,
      // HARD driver bound with a fail-fast error: the decide stage keeps
      // the taxonomy GRAPH driver-resident and broadcast (adjacency +
      // labels + the lexical hash table ≈ 1 KB/node across the driver copy
      // and the broadcast copy — ~16 GB heap at this default; the §9b
      // 2M-node drive measured ~2 GB/copy). Embeddings are NOT part of
      // this bound: above `distributedRetrieveNodes` they live in a
      // distributed (id, embedding) table and never transit the driver.
      // Raise this bound and driver heap TOGETHER (-Xmx ≥ nodes/500k GB),
      // or shard the corpus into independent runs.
      maxSnapshotNodes: Int = 8000000,
      // beyond this snapshot size the decide stage's seed retrieval runs
      // as a distributed banded cogroup (retrieve.DistributedBandedRetrieve)
      // against the checkpoint's embedding table instead of a broadcast
      // BandedIndex, and the driver-side embedding cache is bypassed —
      // driver memory stops scaling with n·dim. Below it the broadcast
      // index is faster (no per-round embedding shuffle).
      distributedRetrieveNodes: Int = 2000000,
      // full nodes/edges/scored-store snapshot every k rounds; other
      // rounds write only the round's (purely additive) deltas — the
      // per-round checkpoint cost tracks the delta, not the snapshot (a
      // 2M-row coalesce(1) rewrite per round was 63 s of the §9b drive's
      // wall). Must be ≥ 1: compaction also bounds the live scored-store
      // union chain (≤ k branches before a full rewrite resets it), so
      // "never compact" would grow the plan without bound. k = 1 restores
      // the round-3 full-rewrite-every-round behavior.
      compactEvery: Int = 8,
      // optional category-move pass (C1-C9) over the finished taxonomy:
      // concepts minted from the mention stream are re-examined and
      // re-parented with `moved` edges. Runs as a distributed
      // bulk-synchronous round (examineFrozen against the broadcast final
      // snapshot; deterministic target-order commit with cycle screening)
      // and checkpoints its decisions before applying, so kill+resume
      // replays them bit-identically instead of recomputing.
      move: Option[graft.core.MoveConfig] = None) extends Serializable {
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    // the three retrieval regimes (exact ≤ annNodeThreshold < broadcast
    // banded ≤ distributedRetrieveNodes < distributed cogroup) are a
    // total order on snapshot size: an inverted pair would silently
    // replace the documented exact-retrieval regime with approximate
    // banded seeds for snapshots between the two thresholds
    require(distributedRetrieveNodes >= annNodeThreshold,
      s"distributedRetrieveNodes ($distributedRetrieveNodes) must be >= " +
        s"annNodeThreshold ($annNodeThreshold): snapshots in between would " +
        "silently get approximate distributed seeds where the config " +
        "promises exact VectorIndex retrieval")
  }

  /** OLAP-domain seed taxonomy matching the synthetic corpus vocabulary. */
  def seedTaxo(): MutableTaxo = {
    val t = new MutableTaxo
    t.addNode(0, Some("Root Concept"))
    val cats = Seq(
      1L -> ("operation", Seq(11L -> "join", 12L -> "scan", 13L -> "sort", 14L -> "merge",
        15L -> "agg", 16L -> "filter", 17L -> "group", 18L -> "window")),
      2L -> ("structure", Seq(21L -> "table", 22L -> "row", 23L -> "column", 24L -> "vector",
        25L -> "hash", 26L -> "key", 27L -> "value", 28L -> "line", 29L -> "part")),
      3L -> ("workload", Seq(31L -> "query", 32L -> "batch", 33L -> "stream", 34L -> "data")))
    for ((cid, (clabel, children)) <- cats) {
      t.addNode(cid, Some(clabel))
      t.addEdge(cid, 0L, "original")
      for ((nid, nlabel) <- children) {
        t.addNode(nid, Some(nlabel))
        t.addEdge(nid, cid, "original")
      }
    }
    t
  }

  /** Static hypernym table for the domain scorer (leaf token -> abstract
    * category labels that subsume it). */
  val DomainHypernyms: Map[String, Set[String]] = {
    val ops = Seq("join", "scan", "sort", "merge", "agg", "filter", "group", "window")
    val structs = Seq("table", "row", "column", "vector", "hash", "key", "value", "line", "part")
    val work = Seq("query", "batch", "stream", "data")
    (ops.map(_ -> Set("operation")) ++ structs.map(_ -> Set("structure")) ++
      work.map(_ -> Set("workload"))).toMap
  }

  def domainModels(dim: Int = 64): IconModels =
    IconModels(new HashNgramEmbedder(dim), new CommonTokenGenerator,
      new TokenContainmentScorer(DomainHypernyms))

  /** Word-bigram mention expression (both words non-stopword, nulls from
    * the zip_with tail dropped) — shared by the batch and streaming paths. */
  def mentionBigrams(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = filter(split(lower(text), "[^a-z0-9]+"), w => w =!= "")
    val stop = lit(Tokenset.Stopwords.toArray)
    filter(
      zip_with(toks, slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b)),
      g => g.isNotNull &&
        !array_contains(stop, split(g, " ").getItem(0)) &&
        !array_contains(stop, split(g, " ").getItem(1)))
  }

  /** Stage 1: mention detection — word bigrams (both non-stopword), one
    * shuffle for the frequency count. Skew note: head mentions are Zipf-
    * heavy by construction; the groupBy is on the mention itself so AQE
    * coalescing + the freq threshold keep partitions balanced. */
  def extractMentions(corpus: DataFrame, textCol: String, minFreq: Long): DataFrame =
    corpus.select(explode(mentionBigrams(col(textCol))).as("mention"))
      .groupBy("mention").agg(count("*").as("freq"))
      .filter(col("freq") >= minFreq)

  /** Fused variant over raw html: extract → tokenize → bigrams → COUNT, all
    * inside one partition-local pass (occurrences accumulate in a
    * per-partition hash map). Measured at 8M pages / 16 cores: the corpus
    * yields 6.7·10⁸ mention occurrences, and materializing them as rows
    * through generate + hash-aggregate cost ~12 s on top of the ~11 s
    * scan work — the per-partition imperative form (the documented
    * last-resort, justified here by measurement) skips the 668M-row
    * operator traffic; only per-partition distinct mentions (bounded by
    * vocabulary) reach the final groupBy.
    *
    * The html column is read as UTF-8 bytes, and each page takes one of two
    * paths ([[MentionScanner.PageScan]]): a page whose bytes are all < 0x80
    * is counted by a byte loop that tokenizes the raw bytes in place; any
    * other page is decoded and takes the char path (HtmlScanner +
    * CountingSink). The char path stays because non-ASCII chars can
    * lowercase to ASCII — U+0130 'İ' → 'i', U+212A KELVIN SIGN → 'k', so
    * `<scrİpt>` opens a script block — and the full-string lowercase the
    * column twin applies can expand one char into several. Both paths
    * count into one per-partition state, capped at `maxStateEntries`
    * (> 0) entries. */
  def extractMentionsFromHtml(corpus: DataFrame, htmlCol: String, minFreq: Long,
                              maxStateEntries: Int = 1 << 22): DataFrame = {
    require(maxStateEntries > 0, s"maxStateEntries must be positive, got $maxStateEntries")
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus.select(col(htmlCol).cast("binary")).as[Array[Byte]]
      .mapPartitions { it =>
        // Unlike the hash-aggregate plan this replaces, the per-partition
        // counter can't spill — so it's capped: once the chunk's distinct
        // bigrams OR interned tokens reach maxStateEntries (default 2^22;
        // a state with 2^22 short tokens and 2^22 - 1 bigrams measures
        // 268 MB by SizeEstimator) the partial counts flush as rows and the
        // state resets; the downstream sum-groupBy merges partials exactly.
        // The cap holds INSIDE a document too: a page scan is resumable,
        // so on mid-document overflow the scan PAUSES, this iterator
        // streams the partial counts out, and the scan continues from the
        // same position — peak state is the cap, never a pathological
        // page's distinct-bigram count. Real web text (unbounded bigram
        // cardinality) stays memory-safe; the flush never fires on
        // vocabulary-bounded corpora. One PageScan counts every page of
        // the partition: no per-page scanner objects.
        new Iterator[(String, Long)] {
          import graft.extract.MentionScanner
          private var inner: Iterator[(String, Long)] = Iterator.empty
          private val state = new MentionScanner.MentionCounts()
          private val scan = new MentionScanner.PageScan(state, maxStateEntries)
          private var inPage = false
          private var finalDrained = false
          private def refill(): Unit = {
            while (!inner.hasNext && !finalDrained) {
              if (inPage) {
                // continue the in-flight page until done or next pause
                if (scan.resume()) {
                  inner = state.iterator // materialized before the reset
                  scan.drainReset()
                } else inPage = false
              } else if (it.hasNext) {
                val h = it.next()
                if (h != null && h.nonEmpty) { scan.start(h); inPage = true }
              } else {
                finalDrained = true
                inner = state.iterator
              }
            }
          }
          def hasNext: Boolean = {
            if (!inner.hasNext) refill()
            inner.hasNext
          }
          def next(): (String, Long) = {
            if (!hasNext) throw new NoSuchElementException("empty partition iterator")
            inner.next()
          }
        }
      }
      .toDF("mention", "cnt")
      .groupBy("mention").agg(sum("cnt").as("freq"))
      .filter(col("freq") >= minFreq)
  }

  /** Flat decision row for Dataset encoding. */
  case class DecisionRow(label: String, eqvNode: Option[Long], eqvScore: Option[Double],
                         sup: Seq[(Long, Double)], sub: Seq[(Long, Double)])
  case class LineageRow(round: Int, partitionId: Int, stage: String,
                        rowsIn: Long, rowsOut: Long, scoredPairs: Long, wallMs: Long)
  case class ScoredPair(subLabel: String, supLabel: String, p: Double)

  /** Read schema of a scored-pairs table: passing it skips the schema
    * inference job a bare `spark.read.parquet` runs. */
  private val ScoredPairSchema = org.apache.spark.sql.types.StructType(
    LocalParquet.schemaOf[ScoredPair]().map(_.copy(nullable = true)))

  /** Local property naming the `run` phase (candidates, decide, commit,
    * checkpoint, ...) that started a Spark job; listeners read it from
    * the job's properties. */
  val StageProperty = "graft.stage"

  /** Row bound of the driver-side decide paths. A round with
    * `maxCandidatesPerRound` ≤ this is round-sized: its candidates and
    * their prior slice are collected, and [[decideLocal]] brings its
    * decisions, lineage and fresh scored pairs to the driver in one action
    * ([[LocalRound]]). A larger round keeps them distributed
    * ([[decideRound]]) and collects its decisions only when there are at
    * most this many. */
  val DriverRows = 100000

  /** The decide stage's output for one round; `release` frees what it
    * cached once the round has been checkpointed. */
  sealed trait RoundResult {
    def lineage: Seq[LineageRow]
    def release(): Unit = ()
  }

  /** A round-sized round, collected by one action: decisions label-sorted
    * (the commit order), fresh scored pairs unique on (subLabel, supLabel). */
  final case class LocalRound(decisions: Array[DecisionRow], lineage: Seq[LineageRow],
                              scored: Seq[ScoredPair]) extends RoundResult

  /** A round above [[DriverRows]] candidates: `decisions` and `scored` are
    * distributed datasets that never transit the driver whole — run()
    * spills decisions to the round's parquet and streams the commit from a
    * sorted local iterator; `releaseCache` unpersists the round's
    * intermediate once both have been checkpointed. */
  final case class DistributedRound(decisions: org.apache.spark.sql.Dataset[DecisionRow],
                                    lineage: Seq[LineageRow], scored: DataFrame,
                                    releaseCache: () => Unit) extends RoundResult {
    override def release(): Unit = releaseCache()
  }

  /** Per-round slice of the scored-pairs history relevant to this
    * candidate batch: pairs whose sub OR sup label is a candidate mention.
    * The full history stays a parquet-backed DataFrame (it grows without
    * bound across rounds at corpus scale). A round-sized round collects
    * this slice ([[priorsByCandidate]]); a larger one attaches it
    * executor-side via [[candidatesWithPriors]] so it never transits the
    * driver. */
  def priorScoreSlice(candidates: DataFrame, scoredStore: DataFrame): DataFrame = {
    val m = broadcast(candidates.select(col("mention")))
    scoredStore.join(m, scoredStore("subLabel") === m("mention"), "left_semi")
      .union(scoredStore.join(m, scoredStore("supLabel") === m("mention"), "left_semi"))
      .distinct()
  }

  /** Attach each candidate's prior-score slice executor-side (rounds above
    * [[DriverRows]] candidates): a decide(l)
    * call only ever queries pairs with l on one side (candidates are
    * anti-joined against the taxonomy lexical table, so no pair can span
    * two candidates), so grouping the history by the candidate mention it
    * touches ships exactly the pairs each task needs — the history stays
    * distributed end to end, and driver memory no longer scales with the
    * slice (the round-2 bound this replaces collected it into a broadcast
    * Map). The join strategy for the mention list is left to AQE: forcing
    * broadcast() here was itself a driver bound (a 10⁷-candidate list is
    * a driver-side OOM as a broadcast; AQE picks broadcast from runtime
    * stats whenever the list actually is small). */
  def candidatesWithPriors(candidates: DataFrame, scoredStore: DataFrame): DataFrame = {
    val m = candidates.select(col("mention")).distinct()
    val subSide = scoredStore.join(m, scoredStore("subLabel") === m("mention"))
      .select(col("mention"), col("subLabel"), col("supLabel"), col("p"))
    val supSide = scoredStore.join(m, scoredStore("supLabel") === m("mention"))
      .select(col("mention"), col("subLabel"), col("supLabel"), col("p"))
    val sliced = subSide.union(supSide).distinct()
      .groupBy("mention")
      .agg(collect_list(struct(col("subLabel"), col("supLabel"), col("p"))).as("priors"))
    candidates.join(sliced, Seq("mention"), "left_outer")
  }

  /** A round-sized round's prior slice: one [[priorScoreSlice]] collect,
    * grouped on the driver by the candidate each pair touches (a pair with
    * candidates on both sides goes to both, as in [[candidatesWithPriors]]).
    * Bounded by the round's own pairs: see [[PipelineConfig]]. */
  private def priorsByCandidate(cands: Array[String],
                                scoredStore: DataFrame): Map[String, Seq[ScoredPair]] = {
    import scoredStore.sparkSession.implicits._
    val own = cands.toSet
    val by = mutable.HashMap.empty[String, mutable.ArrayBuffer[ScoredPair]]
    for (r <- priorScoreSlice(cands.toSeq.toDF("mention"), scoredStore)
           .select("subLabel", "supLabel", "p").collect()) {
      val p = ScoredPair(r.getString(0), r.getString(1), r.getDouble(2))
      for (m <- Seq(p.subLabel, p.supLabel).distinct if own(m))
        by.getOrElseUpdate(m, mutable.ArrayBuffer.empty) += p
    }
    by.view.mapValues(_.toSeq).toMap
  }

  /** What every decide task of a round reads: the broadcast snapshot,
    * models, seed index and lexical table, and the round's settings. */
  private final case class DecideContext(
      round: Int, taxo: Broadcast[MutableTaxo], models: Broadcast[IconModels],
      index: Broadcast[graft.retrieve.SeedSearch], lexical: Broadcast[Map[Long, Long]],
      icon: IconConfig, retrieve: Int, distMode: Boolean)

  /** One decide task, shared by both regimes: `batch` holds (mention,
    * prior-slice pairs, seeds) rows — seeds only in distributed-retrieval
    * mode, where null means none. Returns the task's decisions, its
    * lineage row and the pairs it scored fresh. */
  private def decideTask(ctx: DecideContext, batch: Seq[(String, Seq[ScoredPair], Seq[Long])])
      : (Vector[DecisionRow], LineageRow, Seq[ScoredPair]) = {
    val t0 = System.currentTimeMillis()
    val snapshot = ctx.taxo.value
    val m = ctx.models.value
    val index = ctx.index.value
    val lexical = ctx.lexical.value
    val cache = new ScoreCache(m.sub)
    for ((_, priors, _) <- batch; if priors != null)
      cache.importAll(priors.iterator.map(p => (p.subLabel, p.supLabel, p.p)))
    // candidate embeddings in ≤64-label model calls (M1 batch contract;
    // one model invocation per row was a 64× inflation with a real
    // encoder), then one decision per candidate against the snapshot.
    // In distributed-retrieve mode the seeds arrived with the row and the
    // query vector is not needed at all — the one embedding pass happened
    // in the distributed retrieval stage.
    val queryVecs: Iterator[Array[Float]] =
      if (ctx.distMode) Iterator.continually(null)
      else m.emb.embedBatched(batch.map(_._1)).iterator
    val decisions = batch.iterator.zip(queryVecs).map {
      case ((label, _, seeds), qv) =>
        val base =
          if (ctx.distMode) { if (seeds == null) Nil else seeds }
          else index.search(qv, ctx.retrieve)._2.toSeq
        val d = IconTraversal.decide(snapshot, label, base, cache, ctx.icon,
          l => lexical.get(Tokenset.hash64(l)))
        DecisionRow(d.label, d.eqv.map(_._1), d.eqv.map(_._2), d.sup, d.sub)
    }.toVector
    val lineage = LineageRow(ctx.round, org.apache.spark.TaskContext.getPartitionId(), "decide",
      batch.size, decisions.size, cache.pairsScored, System.currentTimeMillis() - t0)
    // fresh pairs only (scored this round, not imported from the prior
    // slice): the checkpoint's scored-pairs delta is exactly this set, so
    // the per-round store write needs NO anti-join against history —
    // O(delta) end to end where the anti-join read was O(history)
    (decisions, lineage, cache.exportFresh.map { case (a, b, p) => ScoredPair(a, b, p) })
  }

  /** The round's decide state, shared by both regimes: broadcasts, the
    * search-space config and the seed source. Returns the context and
    * either the index_build lineage row (broadcast index) or, in
    * distributed-retrieval mode, the frozen RHP center the seeds are
    * probed with. */
  private def decideSetup(spark: SparkSession, taxo: MutableTaxo, models: IconModels,
                          cfg: PipelineConfig, round: Int,
                          embCache: graft.retrieve.SnapshotEmbeddings,
                          embStore: DataFrame): (DecideContext, Either[Array[Double], LineageRow]) = {
    import spark.implicits._
    val sc = spark.sparkContext
    val bModels = sc.broadcast(models)
    // past `distributedRetrieveNodes` the seed retrieval runs as a
    // distributed banded cogroup against the checkpointed embedding store
    // — no snapshot vector ever lands on the driver or in a broadcast;
    // the remaining driver-resident state (graph + labels + lexical
    // table) is governed by the maxSnapshotNodes fail-fast bound
    val distMode = taxo.numberOfNodes > cfg.distributedRetrieveNodes && embStore != null
    // past the ANN threshold the search-space build gets the fanout cap
    // too — same scale regime, same switch (BandedIndex scaladoc)
    val iconCfg =
      if (taxo.numberOfNodes > cfg.annNodeThreshold && cfg.icon.maxChildFanout == Int.MaxValue)
        cfg.icon.copy(maxChildFanout = 10000)
      else cfg.icon

    // taxonomy embeddings for the broadcast index (snapshot-scoped, R5),
    // INCREMENTAL across rounds (R3 semantics, vector_index.py add/delete):
    // only labels the snapshot gained since the cache's last sync are
    // embedded — a round's index cost tracks the per-round mint delta, not
    // the snapshot size. Adaptive: small deltas embed on the driver (one
    // batched call beats a Spark job's scheduling latency); huge ones
    // (first round over a resumed 10⁶-node snapshot) go distributed.
    // All paths call the model through the batch-64 contract (M1).
    val cache = if (embCache != null) embCache else
      new graft.retrieve.SnapshotEmbeddings(models.emb.dim)
    val nodeIds = taxo.nodes.toArray
    val tIdx = System.currentTimeMillis()
    // seed retrieval, three regimes by snapshot size:
    //   ≤ annNodeThreshold          exact broadcast VectorIndex (reference
    //                               semantics, vector_index.py exhaustive)
    //   ≤ distributedRetrieveNodes  broadcast banded RHP-LSH (BandedIndex;
    //                               signatures from the incremental cache)
    //   beyond                      distributed banded cogroup against the
    //                               checkpointed embedding store — seeds
    //                               ride with the candidate rows and no
    //                               vector transits the driver
    val (index, seedSource): (graft.retrieve.SeedSearch, Either[Array[Double], LineageRow]) =
      if (!distMode) {
        val labels = nodeIds.map(taxo.getLabel)
        val vecs: Array[Array[Float]] = cache.sync(nodeIds, labels, missing =>
          if (missing.length <= 50000) models.emb.embedBatched(missing)
          else {
            val lbl = sc.broadcast(missing.toArray)
            spark.range(0, missing.length, 1, 32)
              .mapPartitions { it =>
                val emb = bModels.value.emb
                val idx = it.toArray
                idx.iterator.zip(
                  emb.embedBatched(idx.map(i => lbl.value(i.toInt)).toSeq).iterator)
              }.collect().sortBy(_._1).map(_._2)
          })
        // banded RHP-LSH above the exact threshold — a 10⁶-node snapshot ×
        // 10⁶ candidates would otherwise be 10¹² exact dot products in this
        // one stage (BandedIndex scaladoc). RHP signatures come from the
        // cache too (frozen-center policy with drift-triggered recenter),
        // so the banded rebuild is O(n) counting sort + O(delta·bits·dim)
        // signature work.
        val index: graft.retrieve.SeedSearch =
          if (nodeIds.length <= cfg.annNodeThreshold) new VectorIndex(nodeIds, vecs)
          else {
            val (center, sg0, sg1) = cache.signatures(nodeIds, vecs)
            new graft.retrieve.BandedIndex(nodeIds, vecs, center, sg0, sg1)
          }
        // evidence surface for the incremental index: rowsIn = snapshot
        // size, rowsOut = labels embedded this round, scoredPairs =
        // signatures built
        (index, Right(LineageRow(round, -1, "index_build", nodeIds.length,
          cache.lastEmbedded, cache.lastSigned, System.currentTimeMillis() - tIdx)))
      } else {
        // a run that GREW into this regime filled the cache during its
        // broadcast-banded rounds — from here on the store is the only
        // vector authority and the cache is never synced again, so drop
        // the dead payload (keeps the frozen center; idempotent)
        cache.dropVectors()
        // frozen center, persisted with the checkpoint exactly like the
        // broadcast-banded path's (a resumed run probes identical buckets).
        // First engagement derives it from a deterministic id-ordered
        // sample of the store (float sums over a distributed agg would
        // vary with partition order run-to-run).
        val center = cache.currentCenter.getOrElse {
          // two-step fetch: ids first (8 B rows), then a semi-join for the
          // sampled vectors. A direct orderBy(vec_id).limit(65536).collect()
          // compiles to TakeOrdered, which ships each task's WHOLE
          // per-partition candidate set to the driver — at 768-dim that is
          // ~96 MB × every partition and trips spark.driver.maxResultSize
          // (the 768-dim rehearsal failed here); the id-bounded join ships
          // exactly the 65536 sampled vectors. Same sample set either way,
          // so 64-dim drive outputs are unchanged.
          val sampleIds = embStore.select(col("vec_id")).orderBy("vec_id")
            .limit(65536).as[Long].collect()
          // ids are unique and sampleIds is the global ascending prefix, so
          // a range filter on the largest sampled id selects exactly the
          // sampled rows — no driver-built join side needed
          val sample =
            if (sampleIds.isEmpty) Array.empty[(Long, Array[Float])]
            else embStore.filter(col("vec_id") <= sampleIds.last)
              .as[(Long, Array[Float])].collect().sortBy(_._1)
          val c = new Array[Double](models.emb.dim)
          for ((_, v) <- sample; i <- c.indices if i < v.length) c(i) += v(i)
          for (i <- c.indices)
            c(i) = BigDecimal(c(i) / math.max(1, sample.length))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          cache.restoreCenter(c, nodeIds.length)
          c
        }
        (new VectorIndex(Array.empty, Array.empty), Left(center))
      }
    // the label-hash → node lexical table is built ONCE from the snapshot
    // and shipped with the broadcast, not rebuilt in every task
    val bLexical = sc.broadcast(
      taxo.nodes.iterator.map(n => Tokenset.hash64(taxo.getLabel(n)) -> n).toMap)
    (DecideContext(round, sc.broadcast(taxo), bModels, sc.broadcast(index), bLexical,
      iconCfg, cfg.retrieveSize, distMode), seedSource)
  }

  /** Distributed-retrieval seeds of the mentions in `labels`: `(mention,
    * seeds)` rows, unevaluated, and the candidate-vector table they are
    * computed from. Candidate embeddings are distributed, through the
    * batch-64 model contract (M1). */
  private def retrieveSeeds(spark: SparkSession, ctx: DecideContext, labels: DataFrame,
                            embStore: DataFrame, center: Array[Double],
                            dim: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val bModels = ctx.models
    val candVecs = labels.select(col("mention")).as[String]
      .mapPartitions { it =>
        val emb = bModels.value.emb
        it.grouped(64).flatMap(chunk => chunk.iterator.zip(emb.embed(chunk).iterator))
      }.toDF("mention", "qvec")
    (candVecs, graft.retrieve.DistributedBandedRetrieve.seeds(
      spark, candVecs, embStore, center, dim, ctx.retrieve))
  }

  /** Stage 3 for a round-sized round (`cfg.maxCandidatesPerRound` ≤
    * [[DriverRows]]): link + decide over driver-held candidates, each with
    * its prior-slice pairs ([[priorScoreSlice]] grouped per candidate).
    * The decide tasks run as ONE plain RDD job of
    * min(defaultParallelism, n) tasks over `sc.parallelize`, and its
    * `collect` brings back decisions, lineage and fresh scored pairs — no
    * Catalyst plan, encoder or shuffle. In distributed-retrieval mode the
    * seeds come from one collect of the banded cogroup (≤ retrieveSize ids
    * per candidate) and ride in the same input. */
  def decideLocal(spark: SparkSession, candidates: Seq[(String, Seq[ScoredPair])],
                  taxo: MutableTaxo, models: IconModels, cfg: PipelineConfig, round: Int,
                  embCache: graft.retrieve.SnapshotEmbeddings = null,
                  embStore: DataFrame = null): LocalRound = {
    import spark.implicits._
    val sc = spark.sparkContext
    val t0 = System.currentTimeMillis()
    val (ctx, seedSource) = decideSetup(spark, taxo, models, cfg, round, embCache, embStore)
    val (seeds, indexLineage) = seedSource match {
      case Right(lineage) => (Map.empty[String, Seq[Long]], lineage)
      case Left(center) =>
        val (_, sdf) = retrieveSeeds(spark, ctx, candidates.map(_._1).toDF("mention"),
          embStore, center, models.emb.dim)
        val s = sdf.collect().iterator.map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
        (s, LineageRow(round, -1, "retrieve_dist", taxo.numberOfNodes, s.size, 0,
          System.currentTimeMillis() - t0))
    }
    val rows = candidates.iterator.map { case (m, priors) =>
      (m, priors, seeds.getOrElse(m, Nil))
    }.toVector
    val parts = sc.parallelize(rows, math.min(sc.defaultParallelism, math.max(1, rows.size)))
      .mapPartitions(it => Iterator(decideTask(ctx, it.toSeq)))
      .collect()
    // a fresh pair has its candidate on one side, so no two tasks export
    // the same pair; the dedupe keeps the store rows identical even if
    // that ever changed
    LocalRound(parts.flatMap(_._1).sortBy(_.label),
      parts.iterator.map(_._2).toSeq :+ indexLineage,
      parts.iterator.flatMap(_._3).distinctBy(p => (p.subLabel, p.supLabel)).toVector)
  }

  /** Stage 3 for a round above [[DriverRows]] candidates: link + decide,
    * executor-side against the broadcast snapshot. `candidates` must carry
    * the per-mention `priors` column ([[candidatesWithPriors]]) — pass a
    * null/absent slice as an empty array, never the full history. One
    * task per candidate partition returns its decisions, one lineage row
    * and the pairs it scored fresh; the output is cached, and decisions
    * and pairs stay distributed. */
  def decideRound(spark: SparkSession, candidates: DataFrame, taxo: MutableTaxo,
                  models: IconModels, cfg: PipelineConfig, round: Int,
                  embCache: graft.retrieve.SnapshotEmbeddings = null,
                  embStore: DataFrame = null,
                  candLabels: DataFrame = null): DistributedRound = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    val (ctx, seedSource) = decideSetup(spark, taxo, models, cfg, round, embCache, embStore)
    var seedsDF: DataFrame = null
    var seedRelease: () => Unit = () => ()
    val indexLineage = seedSource match {
      case Right(lineage) => lineage
      case Left(center) =>
        // embed from the PRE-priors-join mention list when the caller
        // provides it — selecting mentions out of the joined candidates
        // would re-execute the O(history) prior-slice join just to list
        // strings (Spark does not prune a left-outer join from the plan)
        val (candVecs, sdf) = retrieveSeeds(spark, ctx,
          if (candLabels != null) candLabels else candidates, embStore, center, models.emb.dim)
        candVecs.persist()
        sdf.persist()
        val nSeeded = sdf.count()
        seedsDF = sdf
        seedRelease = () => { sdf.unpersist(); candVecs.unpersist(); () }
        LineageRow(round, -1, "retrieve_dist", taxo.numberOfNodes, nSeeded, 0,
          System.currentTimeMillis() - t0)
    }

    val withPriors =
      if (candidates.columns.contains("priors")) candidates.select(col("mention"), col("priors"))
      else candidates.select(col("mention"),
        lit(null).cast("array<struct<subLabel:string,supLabel:string,p:double>>").as("priors"))
    val input =
      (if (seedsDF != null) withPriors.join(seedsDF, Seq("mention"), "left_outer")
       else withPriors.withColumn("seeds", lit(null).cast("array<bigint>")))
        .select(col("mention"), col("priors"), col("seeds"))
        .as[(String, Seq[ScoredPair], Seq[Long])]
    // scored pairs AND decisions stay distributed (run() spills decisions
    // to the round's parquet and streams the deterministic commit from a
    // sorted local iterator — driver memory is bounded by one partition,
    // not the candidate count); lineage is one row per task, so
    // collecting it is safe at any scale.
    val cached = input.mapPartitions(it => Iterator(decideTask(ctx, it.toSeq))).persist()
    val scoredDF = cached.flatMap(_._3).toDF("subLabel", "supLabel", "p")
      .groupBy("subLabel", "supLabel").agg(first("p").as("p"))
    val lineageRows = cached.map(_._2).collect().toSeq :+ indexLineage
    DistributedRound(cached.flatMap(_._1.iterator), lineageRows, scoredDF,
      () => { cached.unpersist(); seedRelease() })
  }

  /** Commit result: next id-allocator value, inserted-edge provenance
    * records, minted concepts, and LABEL FLIPS — addEdge on an already-
    * existing edge returns 1 and overwrites its label in place
    * ('original' → 'new', reference taxonomy.py:65-101 semantics), a
    * mutation that produces no delta row but MUST reach the checkpoint's
    * edge delta or a resumed run replays the stale label (and the
    * traversal's label-filtered search spaces then diverge). */
  case class CommitResult(nextKey: Long, delta: Seq[(Long, Long, String, Int)],
                          newConcepts: Seq[(String, Long)],
                          labelFlips: Seq[(Long, Long)])

  /** Stage 4: deterministic-order driver commit with cycle screening (P4).
    * `decisions` must arrive label-sorted (run() streams them from a
    * sorted parquet iterator — one partition of driver memory, not the
    * whole round); the Seq overload below sorts for direct callers. */
  def commit(taxo: MutableTaxo, decisions: Seq[DecisionRow], nextKey0: Long,
             round: Int): CommitResult =
    commitStream(taxo, decisions.sortBy(_.label).iterator, nextKey0, round)

  def commitStream(taxo: MutableTaxo, decisions: Iterator[DecisionRow], nextKey0: Long,
                   round: Int): CommitResult = {
    var nextKey = nextKey0
    val delta = mutable.ArrayBuffer.empty[(Long, Long, String, Int)]
    val newConcepts = mutable.ArrayBuffer.empty[(String, Long)]
    val flips = mutable.ArrayBuffer.empty[(Long, Long)]
    for (d <- decisions) {
      if (d.eqvNode.isDefined || d.sup.nonEmpty) {
        val selfClass: Long = d.eqvNode match {
          case Some(e) if taxo.containsNode(e) => e
          case _ =>
            val k = nextKey
            taxo.addNode(k, Some(d.label))
            newConcepts += ((d.label, k))
            nextKey += 1
            k
        }
        val supR = taxo.reduceSubset(d.sup.map(_._1).filter(taxo.containsNode))
        val subR = taxo.reduceSubset(d.sub.map(_._1).filter(taxo.containsNode), reverse = true)
        for (s <- supR) {
          try {
            if (taxo.addEdge(selfClass, s, "new") == 0) delta += ((selfClass, s, "new", round))
            else flips += ((selfClass, s))
          } catch { case _: CycleException => }
        }
        for (s <- subR) {
          try {
            if (taxo.addEdge(s, selfClass, "new") == 0) delta += ((s, selfClass, "new", round))
            else flips += ((s, selfClass))
          } catch { case _: CycleException => }
        }
      }
    }
    CommitResult(nextKey, delta.toSeq, newConcepts.toSeq, flips.toSeq)
  }

  /** Canonicalize output: the merge map (dupId -> canonicalId), the edges
    * the merge re-pointed onto canonical nodes (the checkpoint's edge
    * delta needs them), and per-sub-phase lineage rows (the §9g drive
    * showed canonicalize as 47% of the 2-round wall with no breakdown —
    * stages: canon_embed / canon_pairs / canon_cc / canon_preload /
    * canon_apply; the driver path fuses pairs+cc into canon_cc). */
  /** `survivorVecs` builds the round's (vec_id, embedding) table of mints
    * that SURVIVED the merge — the per-round delta of the distributed
    * embedding store (the at-scale decide path retrieves seeds from that
    * store, so the checkpoint persists it like nodes/edges; rounds are
    * purely additive, merges only ever remove same-round mints). Only a
    * run with an embedding store calls it. Call `release` after the
    * checkpoint has written it. */
  case class CanonResult(merge: Map[Long, Long],
                         addedEdges: Seq[(Long, Long, String)],
                         lineage: Seq[LineageRow],
                         survivorVecs: () => DataFrame,
                         release: () => Unit)

  /** Stage 5: canonicalization — embedding near-dup pairs among this
    * round's new concepts + CC merge (min-id canonical). Applies the merge
    * to the taxonomy. Surviving (non-merged) mint embeddings are preloaded
    * into `embCache` AFTER the merge map is known, in bounded chunks
    * (toLocalIterator — one partition of driver memory at a time): the r4
    * form collected the FULL mint vector set to the driver before the
    * merge, including vectors of dups the merge immediately discards. */
  def canonicalize(spark: SparkSession, taxo: MutableTaxo,
                   newConcepts: Seq[(String, Long)], models: IconModels,
                   threshold: Double,
                   embCache: graft.retrieve.SnapshotEmbeddings = null,
                   round: Int = 0,
                   preloadMaxNodes: Long = Long.MaxValue): CanonResult = {
    // preload the decide cache only when the NEXT round will actually run
    // the broadcast path. The decision is made HERE, against the
    // post-merge node count (the merge map is known before the preload
    // runs), not against the pre-merge count at the call site: a round
    // that crosses the distributed threshold only through soon-merged
    // duplicates would otherwise skip the preload and force the next
    // broadcast-path sync to re-embed every surviving mint — a duplicated
    // full model pass with a real encoder.
    def preloadWanted(mergedAway: Int): Boolean =
      embCache != null && taxo.numberOfNodes - mergedAway <= preloadMaxNodes
    val lin = mutable.ArrayBuffer.empty[LineageRow]
    def sub[A](stage: String, rowsIn: Long)(f: => (A, Long)): A = {
      val t0 = System.currentTimeMillis()
      val (out, rowsOut) = f
      lin += LineageRow(round, -1, stage, rowsIn, rowsOut, 0L,
        System.currentTimeMillis() - t0)
      out
    }
    import spark.implicits._
    val n = newConcepts.size
    if (n < 2) {
      // nothing to merge, but a 1-concept mint still seeds the decide
      // cache and the embedding store — the zero-repeat-embedding
      // invariant holds for every round
      val emb1 = if (newConcepts.isEmpty) Array.empty[Array[Float]]
        else models.emb.embedBatched(newConcepts.map(_._1))
      if (preloadWanted(0) && newConcepts.nonEmpty)
        embCache.preload(newConcepts.map(_._2).toArray, emb1)
      return CanonResult(Map.empty, Nil, Nil,
        () => newConcepts.map(_._2).zip(emb1).toDF("vec_id", "embedding"), () => ())
    }
    if (n <= 10000) {
        val ids = newConcepts.map(_._2).toArray
        val emb = sub("canon_embed", n)((models.emb.embedBatched(newConcepts.map(_._1)), n))
        val m = sub("canon_cc", n) {
          val mm = canonicalizeLocal(ids, emb, threshold); (mm, mm.size.toLong)
        }
        // survivors only — a merged dup's vector would be dropped by the
        // next sync anyway (and must not enter the embedding store)
        val keep = ids.indices.filterNot(i => m.contains(ids(i)))
        if (preloadWanted(m.size)) sub("canon_preload", n) {
          embCache.preload(keep.map(ids).toArray, keep.map(emb).toArray)
          ((), keep.size.toLong)
        }
        val added = sub("canon_apply", m.size.toLong) {
          val a = applyMerge(taxo, m); (a, a.size.toLong)
        }
        CanonResult(m, added, lin.toSeq,
          () => keep.map(i => (ids(i), emb(i))).toDF("vec_id", "embedding"), () => ())
      } else {
        // Spark path for rounds that mint concept sets beyond driver scale:
        // distributed embedding, LSH-blocked near-dup pairs + distributed
        // connected components (embedding a 10⁶-concept mint on the driver
        // was a single-threaded stall)
        import spark.implicits._
        val bm = spark.sparkContext.broadcast(models)
        val vecs = sub("canon_embed", n) {
          val v = newConcepts.toDF("label", "vec_id")
            .repartition(spark.sparkContext.defaultParallelism)
            .as[(String, Long)]
            .mapPartitions { it =>
              // batch-64 model contract (M1): one encoder invocation per
              // ≤64-label chunk, never one per row
              val emb = bm.value.emb
              it.grouped(64).flatMap { chunk =>
                chunk.iterator.zip(emb.embed(chunk.map(_._1)).iterator)
                  .map { case ((_, id), v) => (id, v) }
              }
            }
            .toDF("vec_id", "embedding")
            .persist()
          (v, v.count())
        }
        // 256-bit/8-band signatures (32 sign bits per bucket key), NOT the
        // q17 default (16/4): 4-bit buckets have only 16 distinct values
        // per band, so a 10⁶-concept mint collapses into ~60k-member
        // buckets → ~10¹¹ candidate pairs (measured: the 1M-candidate
        // drive sat in this join indefinitely); 16-bit rows still admitted
        // ~6×10⁷ random pairs at 10⁶ near-uniform vectors and OOM'd the
        // verification join (embeddings are re-joined per candidate pair).
        // 32-bit rows put random collisions at 2⁻³² per band (~10³ pairs
        // at 10⁶ vectors); band recall stays ≥ 0.99 for the true-duplicate
        // mints this merge targets (cos ≈ 1) — borderline-threshold pairs
        // are sampled, the documented approximation vs the exact ≤10⁴
        // driver path.
        var nPairs = 0L
        val pairs = sub("canon_pairs", n) {
          val p = graft.ops.SimOps.cosineNearDupPairs(vecs, threshold,
              bits = 256, bands = 8, dim = models.emb.dim)
            .select(col("a"), col("b")).persist()
          nPairs = p.count()
          (p, nPairs)
        }
        val out = sub("canon_cc", n) {
          // CC cost scales with the PAIR set, not the mint count — at a
          // 0.98 threshold even a 10⁶ mint yields only ~10²-10³ near-dup
          // pairs, and the distributed fixpoint's per-iteration job
          // overhead dominated the §9i drive (108 s for 42 pairs while
          // the cluster was loaded). Round-sized pair sets union-find on
          // the driver (the §4.5 adaptive pattern); the distributed
          // fixpoint remains for genuinely merge-heavy rounds.
          val m =
            if (nPairs == 0) Map.empty[Long, Long]
            else if (nPairs <= 1000000)
              GraphOps.unionFindMinId(pairs.as[(Long, Long)].collect())
            // driverPairLimit = 0: this branch has already dispatched on
            // nPairs > 1M, so skip the operator's own regime probe
            else GraphOps.connectedComponents(pairs, driverPairLimit = 0L)
              .filter(col("node") =!= col("component"))
              .as[(Long, Long)].collect().toMap
          (m, m.size.toLong)
        }
        val survivors =
          if (out.isEmpty) vecs
          else vecs.join(broadcast(out.keys.toSeq.toDF("vec_id")),
            Seq("vec_id"), "left_anti")
        // the surviving mint embeddings seed the decide cache: without
        // this the next round's sync re-embeds every surviving mint — a
        // duplicated full model pass per round with a real encoder.
        // Bounded-chunk transfer: toLocalIterator streams one partition at
        // a time, so the driver never double-buffers the full mint payload
        // on top of the cache's own storage. (When the next round retrieves
        // distributed — preloadWanted false — survivors reach it only
        // through the checkpointed embedding store, and no vector ever
        // lands on the driver.)
        if (preloadWanted(out.size)) sub("canon_preload", n) {
          var preloaded = 0L
          survivors.as[(Long, Array[Float])].toLocalIterator().asScala
            .grouped(65536).foreach { chunk =>
              embCache.preload(chunk.map(_._1).toArray, chunk.map(_._2).toArray)
              preloaded += chunk.size
            }
          ((), preloaded)
        }
        pairs.unpersist()
        val added = sub("canon_apply", out.size.toLong) {
          val a = applyMerge(taxo, out); (a, a.size.toLong)
        }
        CanonResult(out, added, lin.toSeq, () => survivors, () => { vecs.unpersist(); () })
      }
  }

  /** Driver-side canonicalization twin for round-sized concept sets (the
    * per-round mint is bounded by maxCandidatesPerRound; a Spark job per
    * few hundred driver-resident labels is pure scheduling overhead).
    * Same semantics: exact cosine pairs ≥ threshold, union-find to min id. */
  def canonicalizeLocal(newConcepts: Seq[(String, Long)],
                        models: IconModels, threshold: Double): Map[Long, Long] =
    canonicalizeLocal(newConcepts.map(_._2).toArray,
      models.emb.embedBatched(newConcepts.map(_._1)), threshold)

  private def canonicalizeLocal(ids: Array[Long], emb: Array[Array[Float]],
                                threshold: Double): Map[Long, Long] =
    // one union-find implementation (GraphOps, shared with the Spark
    // path above): min-id roots are identical with or without path
    // compression, so reusing the compressed twin changes nothing but
    // keeps the two paths from silently diverging
    GraphOps.unionFindMinId(
      nearDupPairsLocal(emb, threshold).map { case (i, j) => (ids(i), ids(j)) })

  /** Index pairs (i < j) whose cosine, rounded HALF_UP to 6 places, is ≥
    * `threshold` (a zero vector has cosine 0). Each norm is computed once,
    * and only raw cosines ≥ threshold − 1e-6 are rounded: rounding moves a
    * value by at most 0.5e-6, so a lower one cannot reach the threshold. */
  private[graft] def nearDupPairsLocal(emb: Array[Array[Float]],
                                       threshold: Double): Array[(Int, Int)] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val norms = emb.map(v => math.sqrt(dot(v, v)))
    val pairs = mutable.ArrayBuffer.empty[(Int, Int)]
    for (i <- emb.indices; j <- (i + 1) until emb.length) {
      val d = norms(i) * norms(j)
      val near =
        if (d == 0) 0.0 >= threshold
        else {
          val raw = dot(emb(i), emb(j)) / d
          raw >= threshold - 1e-6 &&
            BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= threshold
        }
      if (near) pairs += ((i, j))
    }
    pairs.toArray
  }

  /** Returns the edges actually added while re-pointing (for the round's
    * edge-delta checkpoint — merges never remove pre-round state, so a
    * round's net taxonomy change is purely additive). */
  private def applyMerge(taxo: MutableTaxo,
                         merge: Map[Long, Long]): Seq[(Long, Long, String)] = {
    val added = mutable.ArrayBuffer.empty[(Long, Long, String)]
    for ((dup, canon) <- merge.toSeq.sortBy(_._1)) {
      // re-point dup's edges onto the canonical node, then drop dup
      for ((p, l) <- taxo.succ(dup).toSeq) {
        try {
          if (!taxo.containsEdge(canon, p) && taxo.addEdge(canon, p, l) == 0)
            added += ((canon, p, l))
        } catch { case _: CycleException => }
      }
      for ((c, l) <- taxo.pred(dup).toSeq) {
        try {
          if (!taxo.containsEdge(c, canon) && taxo.addEdge(c, canon, l) == 0)
            added += ((c, canon, l))
        } catch { case _: CycleException => }
      }
      taxo.removeNode(dup)
    }
    added.toSeq
  }

  case class RunResult(taxo: MutableTaxo, triples: DataFrame, lineage: DataFrame,
                       roundsRun: Int)

  private def roundDir(ckpt: String, r: Int) = s"$ckpt/round=$r"
  private def commitMarker(ckpt: String, r: Int) = Paths.get(s"${roundDir(ckpt, r)}/COMMIT")

  /** Find the last complete round in a checkpoint dir (resume point). */
  def lastCompleteRound(ckpt: String): Int = {
    var r = 0
    while (Files.exists(commitMarker(ckpt, r + 1))) r += 1
    r
  }

  def run(spark: SparkSession, corpus: DataFrame, textCol: String,
          models: IconModels, cfg: PipelineConfig, ckptDir: String,
          htmlInput: Boolean = false): RunResult = {
    import spark.implicits._
    Files.createDirectories(Paths.get(ckptDir))

    // resume from the last complete round, or start at the seed. Round
    // checkpoints are per-round DELTAS (rounds are purely additive: merges
    // only ever remove same-round mints, so net change = added nodes +
    // added edges) with a full snapshot every cfg.compactEvery rounds —
    // resume loads the latest compaction at or before the resume point and
    // replays the delta rounds after it.
    // parse the crash-injection env ONCE at startup: a typo'd value used
    // to throw NumberFormatException only at the END of the first round,
    // after a full round of work
    val crashAfterRound = sys.env.get("GRAFT_CRASH_AFTER_ROUND").map(_.toInt)
    val resumeRound = lastCompleteRound(ckptDir)
    // a checkpoint with MORE complete rounds than cfg.rounds is a config
    // mismatch, not a resume: silently replaying all of them would report
    // a negative roundsRun and stamp move provenance (cfg.rounds + 1) into
    // a round that really ran inserts. Replaying an exactly-complete
    // checkpoint (==) is the supported no-op/move-replay path.
    require(resumeRound <= cfg.rounds,
      s"checkpoint at $ckptDir has $resumeRound complete rounds but " +
        s"cfg.rounds=${cfg.rounds} — pass rounds >= $resumeRound (a re-run " +
        "over a completed checkpoint replays it; extra rounds extend it)")
    // latest full-snapshot compaction at or before the resume point (0 =
    // none: replay every delta from the seed) — shared by the taxonomy
    // and the scored-pairs store, which compact together
    val baseRound =
      if (resumeRound == 0) 0
      else (resumeRound to 1 by -1)
        .find(i => Files.exists(Paths.get(s"${roundDir(ckptDir, i)}/nodes")))
        .getOrElse(0)
    var taxo =
      if (resumeRound == 0) seedTaxo()
      else {
        // every checkpointed row carries its `seq` insertion index — the
        // replay sorts on it so the reconstructed LinkedHashMaps have the
        // live run's EXACT insertion order (adjacency iteration order is
        // decision-relevant, MutableTaxo scaladoc; an id-sorted replay
        // would reorder, e.g., a minted node's sup edges from decide-rank
        // order to dst-ascending)
        val t =
          if (baseRound == 0) seedTaxo()
          else {
            val nodesDF = spark.read.parquet(s"${roundDir(ckptDir, baseRound)}/nodes")
            val edgesDF = spark.read.parquet(s"${roundDir(ckptDir, baseRound)}/edges")
            val tt = new MutableTaxo
            if (nodesDF.columns.contains("seq")) {
              nodesDF.select(col("seq"), col("id"), col("label"))
                .as[(Long, Long, String)].collect().sortBy(_._1)
                .foreach { case (_, id, l) => tt.addNode(id, Some(l)) }
              edgesDF.select(col("seq"), col("src"), col("dst"), col("label"))
                .as[(Long, Long, Long, String)].collect().sortBy(_._1)
                .foreach { case (_, u, v, l) => tt.addEdge(u, v, l) }
            } else {
              // pre-delta checkpoint format (no seq column; full nodes/edges
              // written every round as one coalesce(1) file): replay exactly
              // as that binary did — nodes id-sorted, edges in file order
              // (the single-file write preserved insertion order)
              nodesDF.select(col("id"), col("label"))
                .as[(Long, String)].collect().sortBy(_._1)
                .foreach { case (id, l) => tt.addNode(id, Some(l)) }
              edgesDF.select(col("src"), col("dst"), col("label"))
                .as[(Long, Long, String)].collect()
                .foreach { case (u, v, l) => tt.addEdge(u, v, l) }
            }
            tt
          }
        for (i <- (baseRound + 1) to resumeRound) {
          val rd = roundDir(ckptDir, i)
          spark.read.parquet(s"$rd/nodes_delta")
            .select(col("seq"), col("id"), col("label"))
            .as[(Long, Long, String)].collect().sortBy(_._1)
            .foreach { case (_, id, l) => t.addNode(id, Some(l)) }
          spark.read.parquet(s"$rd/edges_delta")
            .select(col("seq"), col("src"), col("dst"), col("label"))
            .as[(Long, Long, Long, String)].collect().sortBy(_._1)
            .foreach { case (_, u, v, l) => t.addEdge(u, v, l) }
        }
        t
      }
    // incremental decide-index state; a resumed run restores the persisted
    // RHP center so its banded probes are bit-identical to the uninterrupted
    // run's (SnapshotEmbeddings scaladoc)
    val embCache = new graft.retrieve.SnapshotEmbeddings(models.emb.dim)
    if (resumeRound > 0) {
      val cf = Paths.get(s"${roundDir(ckptDir, resumeRound)}/center.txt")
      if (Files.exists(cf)) {
        val lines = Files.readAllLines(cf).asScala
        embCache.restoreCenter(lines.drop(1).map(_.toDouble).toArray, lines.head.toInt)
      }
    }
    // the scored-pairs memo is parquet-backed and stays distributed: it
    // grows without bound across rounds, so it is never collected whole —
    // each round attaches only the candidate-relevant slice. Like the
    // taxonomy it checkpoints as per-round DELTAS (fresh pairs only; the
    // full-history rewrite per round was an O(history) write) with a full
    // snapshot on compaction rounds; the live store is the base ∪ deltas
    // union (≤ compactEvery branches deep before the next compaction cuts
    // the chain).
    var scoredStore: DataFrame = {
      val empty = spark.emptyDataset[(String, String, Double)]
        .toDF("subLabel", "supLabel", "p")
      val base =
        if (baseRound == 0) empty
        else spark.read.parquet(s"${roundDir(ckptDir, baseRound)}/scored_pairs")
      ((baseRound + 1) to resumeRound).foldLeft(base) { (acc, i) =>
        val rd = roundDir(ckptDir, i)
        if (Files.exists(Paths.get(s"$rd/scored_pairs_delta")))
          acc.union(spark.read.schema(ScoredPairSchema).parquet(s"$rd/scored_pairs_delta"))
        else if (Files.exists(Paths.get(s"$rd/scored_pairs")))
          spark.read.parquet(s"$rd/scored_pairs") // pre-delta format: per-round FULL store
        else acc // round minted no pairs delta (legal on empty rounds)
      }
    }
    // the id allocator is persisted per round (meta.txt): deriving it as
    // max(id)+1 on resume could REUSE an id whose (max-valued) node was
    // canonicalize-merged away, resurrecting stale provenance records —
    // the uninterrupted run's counter is monotonic across merges
    var nextKey = {
      val mf = Paths.get(s"${roundDir(ckptDir, resumeRound)}/meta.txt")
      if (resumeRound > 0 && Files.exists(mf))
        new String(Files.readAllBytes(mf), "UTF-8").trim.toLong
      else taxo.nodes.max + 1
    }
    val allLineage = mutable.ArrayBuffer.empty[LineageRow]
    val allDeltas = mutable.ArrayBuffer.empty[(Long, Long, String, Int)]
    val sameAs = mutable.ArrayBuffer.empty[(String, String, Int)]
    if (resumeRound > 0) {
      // restore per-round provenance (edge deltas + sameAs) so a resumed
      // run emits identical src_round lineage to an uninterrupted one
      val rd = roundDir(ckptDir, resumeRound)
      allDeltas ++= spark.read.parquet(s"$rd/deltas")
        .as[(Long, Long, String, Int)].collect().sortBy(d => (d._4, d._1, d._2))
      sameAs ++= spark.read.parquet(s"$rd/sameas")
        .as[(String, String, Int)].collect().sortBy(s => (s._3, s._1, s._2))
    }

    // distributed (vec_id, embedding) store for the at-scale decide path:
    // latest full snapshot + subsequent deltas, mirroring the taxonomy
    // checkpoint scheme. Stays null until a round crosses
    // distributedRetrieveNodes; a resume whose checkpoint predates the
    // store (or a run that crosses the threshold mid-flight) rebuilds it
    // with ONE distributed re-embed pass over the snapshot.
    var embStore: DataFrame = {
      val baseEmb = (resumeRound to 1 by -1)
        .find(i => Files.exists(Paths.get(s"${roundDir(ckptDir, i)}/embeddings")))
      baseEmb match {
        case None => null
        case Some(b) =>
          var df = spark.read.parquet(s"${roundDir(ckptDir, b)}/embeddings")
          for (i <- (b + 1) to resumeRound;
               p = s"${roundDir(ckptDir, i)}/emb_delta"
               if Files.exists(Paths.get(p)))
            df = df.union(spark.read.parquet(p))
          df
      }
    }

    // cached only when a later round of this run reads the counts again
    val mentions = {
      val m = if (htmlInput) extractMentionsFromHtml(corpus, textCol, cfg.minMentionFreq)
        else extractMentions(corpus, textCol, cfg.minMentionFreq)
      if (cfg.rounds - resumeRound > 1) m.persist() else m
    }
    // the slice collect of a round-sized round is skipped while the scored
    // store has no rows: a fresh run's rounds until one scores a pair
    var storeEmpty = resumeRound == 0

    val phase = mutable.LinkedHashMap.empty[String, Double]
    val sc = spark.sparkContext
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val outer = sc.getLocalProperty(StageProperty)
      sc.setLocalProperty(StageProperty, name)
      val out = try f finally sc.setLocalProperty(StageProperty, outer)
      phase(name) = phase.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      out
    }

    var r = resumeRound + 1
    while (r <= cfg.rounds) {
      // fail-fast driver bound (see PipelineConfig.maxSnapshotNodes): the
      // graph side of the snapshot is driver-resident + broadcast by
      // design; past the bound the heap model no longer holds and the run
      // must stop with sizing guidance, not OOM opaquely mid-stage
      if (taxo.numberOfNodes > cfg.maxSnapshotNodes)
        throw new IllegalStateException(
          s"taxonomy snapshot has ${taxo.numberOfNodes} nodes > maxSnapshotNodes=" +
          s"${cfg.maxSnapshotNodes}. The decide stage keeps the graph driver-resident " +
          "and broadcast (≈1 KB/node per copy, two copies — about " +
          s"${2 * (cfg.maxSnapshotNodes / 1000000)} GB heap at the configured bound). " +
          "Raise maxSnapshotNodes and driver heap together (rule of thumb: -Xmx ≥ " +
          "2 GB per million nodes + working set), or shard the corpus into " +
          "independent runs. Embeddings are already distributed above " +
          s"distributedRetrieveNodes=${cfg.distributedRetrieveNodes} and do not " +
          "contribute to this bound. The fully-distributed graph design for " +
          "beyond this regime is specified in SURVEY.md §7.9.")
      // crossover into distributed retrieval without a persisted embedding
      // store: one distributed re-embed pass over the snapshot builds it
      // (batch-64 contract; the store is persisted with this round's
      // checkpoint so the pass never repeats)
      var embFullWrite = false
      if (taxo.numberOfNodes > cfg.distributedRetrieveNodes && embStore == null) {
        val bm = spark.sparkContext.broadcast(models)
        embStore = taxo.nodes.map(n => (n, taxo.getLabel(n))).toDF("vec_id", "label")
          .repartition(spark.sparkContext.defaultParallelism)
          .as[(Long, String)]
          .mapPartitions { it =>
            it.grouped(64).flatMap { chunk =>
              chunk.iterator.zip(bm.value.emb.embed(chunk.map(_._2)).iterator)
                .map { case ((id, _), v) => (id, v) }
            }
          }.toDF("vec_id", "embedding").persist()
        embFullWrite = true
      }
      // 2. dedupe candidates against the taxonomy lexical table + every
      // mention already RESOLVED in a prior round: an eqv-decided mention's
      // canonical node is in the taxonomy (under a different label, so the
      // lexical anti-join alone re-admits it) and a merged-away mint's
      // label re-mints then re-merges — either way the mention re-decides
      // the identical outcome every round, appending a duplicate sameAs
      // row per round and permanently occupying a candidate slot (at
      // ≥ maxCandidatesPerRound persistent eqv mentions the pipeline stops
      // admitting new mentions entirely). sameAs is checkpoint-replayed,
      // so the exclusion set is identical on resume.
      // ACCEPTED DIVERGENCE (ADVICE r5): the exclusion is permanent for the
      // run — the 'identical outcome every round' argument is exact only
      // while the decided mention's canonical node is unchanged; a LATER
      // merge/move of that node could make re-deciding yield a different
      // (also-correct) placement that stays unreachable. Re-opening decided
      // mentions on taxonomy mutation would make candidate admission
      // non-monotone (unbounded re-decide churn at scale); the sequential
      // reference has the same property (icon.py processes each mention
      // once), so the divergence is from a hypothetical oracle, not from
      // the reference semantics.
      val resolvedHashes = sameAs.iterator.map(s => Tokenset.hash64(s._1)).toSet
      val lexHashes =
        (taxo.nodes.map(n => Tokenset.hash64(taxo.getLabel(n))) ++ resolvedHashes).toDF("h")
      val hashUdf = udf((s: String) => Tokenset.hash64(s))
      def top = mentions.withColumn("h", hashUdf(col("mention")))
        .join(lexHashes, Seq("h"), "left_anti")
        .orderBy(col("freq").desc, col("mention").asc)
        .limit(cfg.maxCandidatesPerRound)
        .select("mention", "freq")
      val result: RoundResult =
        if (cfg.maxCandidatesPerRound <= DriverRows) {
          // round-sized: the candidates and their prior slice come to the
          // driver in one collect each, and the decide tasks run as one
          // plain RDD job over them (decideLocal)
          val cands = timed("candidates")(top.select("mention").collect().map(_.getString(0)))
          val priors = timed("prior_slice") {
            if (storeEmpty) Map.empty[String, Seq[ScoredPair]]
            else priorsByCandidate(cands, scoredStore)
          }
          timed("decide")(decideLocal(spark, cands.toSeq.map(m => (m, priors.getOrElse(m, Nil))),
            taxo, models, cfg, r, embCache, embStore))
        } else {
          // limit() collapses downstream parallelism to one task, so the
          // candidate batch is re-spread by mention hash before the decide
          // stage
          val fresh = timed("candidates") {
            top.repartition(32, col("mention")).localCheckpoint(true)
          }
          val withPriors = timed("prior_slice")(candidatesWithPriors(fresh, scoredStore))
          timed("decide")(decideRound(spark, withPriors, taxo, models, cfg, r, embCache,
            embStore, candLabels = fresh.select(col("mention"))))
        }
      allLineage ++= result.lineage
      storeEmpty &&= result.lineage.forall(l => l.stage != "decide" || l.scoredPairs == 0)

      // commit source (the §4.5 driver/distributed pattern): a round-sized
      // round arrives collected and label-sorted. Above DriverRows
      // candidates the decision count is known from the collected per-task
      // lineage rows: few decisions are still collected directly, while
      // big rounds spill to the round's parquet and STREAM the commit from
      // a sorted local iterator (driver memory = one partition, regardless
      // of maxCandidatesPerRound; the 10⁶-candidate drive exercises this
      // path, BENCH/BASELINE.md §9b). Every path feeds identical
      // label-sorted iterators to commitStream.
      val rd = roundDir(ckptDir, r)
      val decisionsSorted: () => Iterator[DecisionRow] = result match {
        case l: LocalRound => () => l.decisions.iterator
        case d: DistributedRound => timed("decide") {
          val nDecisions = d.lineage.iterator.filter(_.stage == "decide").map(_.rowsOut).sum
          if (nDecisions <= DriverRows) {
            val sorted = d.decisions.collect().sortBy(_.label)
            () => sorted.iterator
          } else {
            d.decisions.write.mode(SaveMode.Overwrite).parquet(s"$rd/decisions")
            val ds = spark.read.parquet(s"$rd/decisions").as[DecisionRow].orderBy("label")
            () => ds.toLocalIterator().asScala
          }
        }
      }
      // eqv pairs are captured while the commit stream drains (they are a
      // tiny fraction of a round) instead of a second full drain — on the
      // spill path the old second pass re-ran the whole global sort. The
      // containsNode filter runs AFTER commit, exactly as the two-pass
      // form did, so the committed-state semantics are unchanged.
      val eqvSeen = mutable.ArrayBuffer.empty[(String, Long)]
      val CommitResult(nk, delta, newConcepts, labelFlips) = timed("commit")(
        commitStream(taxo, decisionsSorted().map { d =>
          for (e <- d.eqvNode) eqvSeen += ((d.label, e))
          d
        }, nextKey, r))
      nextKey = nk
      allDeltas ++= delta
      timed("commit") {
        for ((l, e) <- eqvSeen if taxo.containsNode(e))
          sameAs += ((l, taxo.getLabel(e), r))
      }

      // once the NEXT round's decide will retrieve distributed, the driver
      // embedding cache is dead weight — canonicalize skips the preload so
      // no mint vector lands on the driver (survivors reach the next round
      // through the checkpointed store instead). The broadcast-vs-
      // distributed decision is made INSIDE canonicalize against the
      // post-merge node count — the merge can pull a crossing round back
      // under the threshold.
      val canonRes = timed("canonicalize")(
        canonicalize(spark, taxo, newConcepts, models, cfg.cosineMergeThreshold,
          embCache, r, preloadMaxNodes = cfg.distributedRetrieveNodes))
      val merge = canonRes.merge
      val mergeAdded = canonRes.addedEdges
      // merge re-points are insertions of THIS round: without this entry
      // roundOf has no record and their triples report src_round 0,
      // misattributing a round-r insertion to the seed round (they already
      // reached the edges_delta checkpoint; provenance must agree)
      allDeltas ++= mergeAdded.iterator.map { case (u, v, l) => (u, v, l, r) }
      allLineage ++= canonRes.lineage
      val mergedLabels = newConcepts.toMap.map(_.swap) // id -> label
      for ((dup, canon) <- merge; dl <- mergedLabels.get(dup); cl <- mergedLabels.get(canon))
        sameAs += ((dl, cl, r))

      // 6. checkpoint (atomic via COMMIT marker written last). Taxonomy
      // state checkpoints as the round's ADDITIVE delta (surviving minted
      // nodes + surviving added edges — merges only remove same-round
      // mints), with a full snapshot every cfg.compactEvery rounds; the
      // per-round write cost tracks the delta, not the snapshot. The scored
      // store follows the same scheme: per-round fresh-pair deltas with a
      // full-store rewrite on compaction rounds, which also resets the
      // live union chain so plans don't grow unboundedly.
      timed("checkpoint") {
        val nodeAdds = newConcepts.filterNot { case (_, id) => merge.contains(id) }
        // edge delta = edges inserted this round (commit + merge re-points,
        // first-occurrence order = live insertion order) PLUS label flips
        // (addEdge over an existing edge rewrites its label in place —
        // no new map entry, but the resumed taxonomy must replay it);
        // labels re-read from the live taxonomy so merges win
        val edgeAdds = (delta.iterator.map(d => (d._1, d._2)) ++
            mergeAdded.iterator.map(e => (e._1, e._2)) ++ labelFlips.iterator)
          .toSeq.distinct
          .filter { case (u, v) => taxo.containsEdge(u, v) }
          .map { case (u, v) => (u, v, taxo.succ(u)(v)) }
        // Spark writes (compaction snapshots, a distributed round's scored
        // pairs, the embedding store) are INDEPENDENT jobs gated by the one COMMIT
        // marker written last, so they are submitted from a driver thread
        // pool and awaited before the marker (optimization guide §2.6:
        // actions are only sequential because the driver calls them
        // sequentially); a failure in ANY write propagates out of the
        // awaits and the marker is never written. Daemon workers: an
        // exception escaping before the shutdown below must not leave
        // non-daemon pool threads pinning the JVM open.
        val ckptPool = java.util.concurrent.Executors.newFixedThreadPool(8,
          (r: Runnable) => { val t = new Thread(r, "ckpt-write"); t.setDaemon(true); t })
        implicit val ckptEc: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(ckptPool)
        def bg(f: => Unit): scala.concurrent.Future[Unit] = scala.concurrent.Future(f)
        val pendingWrites = mutable.ArrayBuffer.empty[scala.concurrent.Future[Unit]]
        def awaitWrites(): Unit =
          try pendingWrites.foreach(f =>
            scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
          finally { pendingWrites.clear() }
        val compact = cfg.compactEvery > 0 && r % cfg.compactEvery == 0
        if (compact) {
          // compaction: partitioned full-snapshot write (the old per-round
          // coalesce(1) rewrite was a single-task serial term at 2M nodes),
          // seq-stamped in insertion order like the deltas
          val nParts = math.max(1, taxo.numberOfNodes / 500000)
          pendingWrites += bg(
            taxo.nodes.zipWithIndex.map { case (n, k) => (k.toLong, n, taxo.getLabel(n)) }
              .toDF("seq", "id", "label")
              .repartition(nParts).write.mode(SaveMode.Overwrite).parquet(s"$rd/nodes"))
          pendingWrites += bg(
            taxo.edges.zipWithIndex.map { case ((u, v, l), k) => (k.toLong, u, v, l) }
              .toDF("seq", "src", "dst", "label")
              .repartition(nParts).write.mode(SaveMode.Overwrite).parquet(s"$rd/edges"))
        }
        // scored-pairs store: fresh pairs only per round. decide exports
        // ONLY pairs it scored this round (ScoreCache.exportFresh — pairs
        // imported from the prior slice are excluded executor-side), so the
        // round's pairs ARE the history-fresh delta and the store write is
        // O(delta) with no shuffle of the history at all. (The r4 form
        // anti-joined them against the full store here — an O(history)
        // shuffle every round, 64.9 s of the §9g drive's checkpoint wall.)
        val pairsTable = if (compact) "scored_pairs" else "scored_pairs_delta"
        result match {
          case l: LocalRound if !compact => LocalParquet.writeRows(s"$rd/$pairsTable", l.scored)
          case _ =>
            val fresh = result match {
              case l: LocalRound => l.scored.toDF()
              case d: DistributedRound => d.scored
            }
            pendingWrites += bg((if (compact) scoredStore.union(fresh) else fresh)
              .write.mode(SaveMode.Overwrite).parquet(s"$rd/$pairsTable"))
        }
        // embedding store (at-scale decide path): this round's merge
        // SURVIVORS are the per-round delta; a full store snapshot is
        // written on the crossover round (first build) and on compaction
        // rounds — the identical delta/compaction scheme the taxonomy and
        // scored store use, so resume reconstructs all three the same way
        if (embStore != null) {
          val survivors = canonRes.survivorVecs().select(col("vec_id"), col("embedding"))
          if (embFullWrite || compact) {
            pendingWrites += bg(embStore.union(survivors)
              .write.mode(SaveMode.Overwrite).parquet(s"$rd/embeddings"))
          } else {
            pendingWrites += bg((if (nodeAdds.size <= DriverRows) survivors.coalesce(1)
              else survivors).write.mode(SaveMode.Overwrite).parquet(s"$rd/emb_delta"))
          }
        }
        // every taxonomy row carries its insertion index (`seq`): the
        // resume replay sorts on it, reconstructing the live run's exact
        // LinkedHashMap insertion order (MutableTaxo documents insertion
        // order as decision-relevant) even across repartitioned writes.
        // These tables are built on the driver, so the driver writes them
        // at any size, with no Spark job: a Spark write of a local Seq
        // copies it into a LocalRelation and pays job launch + output
        // committer per table. 2M-row edge table, local[4]: Spark's write
        // 6.8-14.3 s, this one 0.6-1.6 s; the resume replay's read of the
        // single file is 1.1-1.4 s against 0.6-2.2 s for Spark's 4 files.
        try {
          LocalParquet.writeRows(s"$rd/nodes_delta",
            nodeAdds.zipWithIndex.map { case ((l, id), k) => (k.toLong, id, l) },
            "seq", "id", "label")
          LocalParquet.writeRows(s"$rd/edges_delta",
            edgeAdds.zipWithIndex.map { case ((u, v, l), k) => (k.toLong, u, v, l) },
            "seq", "src", "dst", "label")
          LocalParquet.writeRows(s"$rd/lineage", result.lineage ++ canonRes.lineage)
          // cumulative provenance (bounded by inserted edges — at the §9b
          // drive it reaches 2M rows): lets a resumed run reconstruct
          // src_round exactly
          LocalParquet.writeRows(s"$rd/deltas", allDeltas.toSeq, "src", "dst", "label", "round")
          LocalParquet.writeRows(s"$rd/sameas", sameAs.toSeq, "a", "b", "round")
          // barrier: every table durable before any state swap or the marker
          awaitWrites()
        } finally ckptPool.shutdown()
        // post-write state swaps + cache releases (read-back depends on the
        // completed writes)
        result.release()
        scoredStore =
          if (compact) spark.read.parquet(s"$rd/scored_pairs")
          else scoredStore.union(
            spark.read.schema(ScoredPairSchema).parquet(s"$rd/scored_pairs_delta"))
        if (embStore != null) {
          val prev = embStore
          canonRes.release()
          if (embFullWrite || compact) {
            prev.unpersist()
            embStore = spark.read.parquet(s"$rd/embeddings")
          } else embStore = embStore.union(spark.read.parquet(s"$rd/emb_delta"))
        } else canonRes.release()
        // the decide index's RHP center (dim doubles) — resumed banded
        // probes must hash into the same buckets as the original run's
        for (c <- embCache.currentCenter)
          Files.write(Paths.get(s"$rd/center.txt"),
            (embCache.centerSnapshotSize.toString +: c.map(_.toString).toSeq)
              .mkString("\n").getBytes("UTF-8"))
        // id-allocator state (monotonic across merges — see resume note)
        Files.write(Paths.get(s"$rd/meta.txt"), nextKey.toString.getBytes("UTF-8"))
        Files.write(commitMarker(ckptDir, r), Array.emptyByteArray)
      }
      // crash injection for the kill+resume drive: hard-halt (no cleanup,
      // like SIGKILL) right after round N's checkpoint commits
      if (crashAfterRound.contains(r)) {
        System.err.println(s"[pipeline] GRAFT_CRASH_AFTER_ROUND=$r -> halt(137)")
        Runtime.getRuntime.halt(137)
      }
      r += 1
    }
    mentions.unpersist()

    // final: transitive reduction, preserving seed edges (icon.py:610-614)
    val seed = seedTaxo()
    val tr = taxo.transitiveReduction()
    val trEdges = tr.edges.map { case (u, v, _) => (u, v) }.toSet
    for ((u, v, _) <- taxo.edges if !trEdges.contains((u, v))) taxo.removeEdge(u, v)
    for ((u, v, l) <- seed.edges if taxo.containsNode(u) && taxo.containsNode(v)) {
      taxo.succ(u)(v) = l; taxo.pred(v)(u) = l
    }

    // optional category-move round over the finished taxonomy (C1-C9 at
    // pipeline scale): distributed frozen-snapshot examine, decisions
    // checkpointed BEFORE the apply so a resumed run replays them instead
    // of recomputing (and a crash before the move recomputes them
    // deterministically from the resumed taxonomy)
    for (mcfg <- cfg.move) timed("move") {
      val mdir = s"$ckptDir/move"
      val marker = Paths.get(s"$mdir/COMMIT")
      // the marker records WHICH taxonomy the decisions were computed
      // against (the insert-round count) AND under which MoveConfig:
      // extending a completed checkpoint with more rounds must recompute
      // the move on the new taxonomy, and re-running it with a changed
      // move config (different cap / threshold / method / mode) must
      // recompute rather than silently replay decisions made under the
      // old one. MoveConfig is a flat case class, so its toString is a
      // deterministic single-line fingerprint of every field.
      val markerStamp = s"${cfg.rounds}\n$mcfg"
      val markerValid = Files.exists(marker) &&
        new String(Files.readAllBytes(marker), "UTF-8").trim == markerStamp
      // per-partition engines embed the whole snapshot when the config
      // needs a vector index (rag retrieval / the siblings feature,
      // which is in MoveConfig's DEFAULT features) — defaultParallelism
      // full model passes over n labels. Fine at reference scale,
      // ruinous on a minted 10⁶⁺ snapshot: fail fast with guidance.
      if ((mcfg.method == "rag" || mcfg.selectionFeatures.contains("siblings")) &&
          taxo.numberOfNodes > 100000)
        throw new IllegalStateException(
          s"pipeline move with method='${mcfg.method}' / features=" +
          s"${mcfg.selectionFeatures.mkString(",")} builds a full vector index " +
          s"PER PARTITION (embedding all ${taxo.numberOfNodes} labels per task). " +
          "Above 100k nodes use method='search' with selectionFeatures=Seq(\"parent\") " +
          "(index-free), or cap the taxonomy.")
      val decisions: Seq[(Long, Seq[Long], Seq[Long])] =
        if (markerValid)
          spark.read.parquet(s"$mdir/decisions")
            .select(col("seq"), col("target"), col("winners"), col("oldParents"))
            .as[(Long, Long, Seq[Long], Seq[Long])].collect().sortBy(_._1)
            .map(d => (d._2, d._3, d._4)).toSeq
        else {
          // move candidates come from the mention stream: bottom concepts
          // the pipeline minted (seed leaves are excluded — they are the
          // curated skeleton), C9 auto-mode order + cap semantics
          val seedIds = seed.nodes.toSet
          val targets0: Seq[Long] = mcfg.mode match {
            case "auto" =>
              taxo.bottomNodes.filterNot(seedIds.contains).filterNot(mcfg.ignore.contains)
            case _ => mcfg.inputConcepts
          }
          val targets = mcfg.maxOuterLoop.map(targets0.take).getOrElse(targets0)
          val bTaxoF = spark.sparkContext.broadcast(taxo)
          val bModelsF = spark.sparkContext.broadcast(models)
          // the search space is target-independent under frozen semantics:
          // build it ONCE here and broadcast (in local mode the tasks then
          // share a single instance; per-partition engines each rebuilding
          // it would multiply an O(snapshot) subgraph plus a levels pass
          // by the task count)
          val bSpaceF =
            if (mcfg.method == "search")
              Some(spark.sparkContext.broadcast(taxo.createMoveSearchSpace(
                mcfg.scopeTopLevel, mcfg.scopeBottomLevel)))
            else None
          val ds = targets.toDF("target")
            .repartition(spark.sparkContext.defaultParallelism, col("target"))
            .as[Long]
            .mapPartitions { it =>
              val engine = new graft.core.CategoryMoveEngine(bModelsF.value, mcfg)
              bSpaceF match {
                case Some(bs) => engine.prepareFrozen(bTaxoF.value, bs.value)
                case None => engine.prepareFrozen(bTaxoF.value)
              }
              it.map { t => val (w, o) = engine.examineFrozen(t); (t, w, o) }
            }.collect().sortBy(_._1).toSeq
          Files.createDirectories(Paths.get(mdir))
          ds.zipWithIndex.map { case ((t, w, o), k) => (k.toLong, t, w, o) }
            .toDF("seq", "target", "winners", "oldParents")
            .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$mdir/decisions")
          Files.write(marker, markerStamp.getBytes("UTF-8"))
          ds
        }
      // deterministic target-order commit: detach old parents, attach
      // winners as `moved` (cycle-screened; a winner lost to a cycle or a
      // fully-failed target falls back to its old parents, C7 semantics)
      for ((t, winners, old) <- decisions if taxo.containsNode(t)) {
        for (p <- old if taxo.containsEdge(t, p)) taxo.removeEdge(t, p)
        var landed = 0
        for (w <- winners if taxo.containsNode(w) && w != t) {
          try { taxo.addEdge(t, w, "moved"); landed += 1 }
          catch { case _: CycleException => }
        }
        if (landed == 0)
          for (p <- old if taxo.containsNode(p)) {
            try { taxo.addEdge(t, p, "moved"); () }
            catch { case _: CycleException => }
          }
      }
    }

    if (sys.env.contains("GRAFT_PHASE_TIMES"))
      println(phase.map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{\"phases\":{", ",", "}}"))

    // O(1) provenance lookup; getOrElseUpdate keeps the FIRST round an
    // edge was minted in (same as the linear find this replaces)
    val roundOf = mutable.HashMap.empty[(Long, Long), Int]
    for (d <- allDeltas) roundOf.getOrElseUpdate((d._1, d._2), d._4)
    val isA = taxo.edges.filter(_._3 == "new")
      .map { case (u, v, _) => (taxo.getLabel(u), "isA", taxo.getLabel(v),
        roundOf.getOrElse((u, v), 0), "new") }
    // `moved` edges from the optional move round: src_round = rounds + 1
    // (the move is a distinct post-insert phase)
    val movedT = taxo.edges.filter(_._3 == "moved")
      .map { case (u, v, _) => (taxo.getLabel(u), "isA", taxo.getLabel(v),
        cfg.rounds + 1, "moved") }
    val same = sameAs.map { case (a, b, rr) => (a, "sameAs", b, rr, "eqv") }.toSeq
    val tripleCols = Seq("subj", "pred", "obj", "src_round", "lineage")
    val tripleRows = isA ++ movedT ++ same
    LocalParquet.writeRows(s"$ckptDir/triples", tripleRows, tripleCols: _*)
    val triples = tripleRows.toDF(tripleCols: _*)
    val lineageDF = allLineage.toSeq.toDF()
    RunResult(taxo, triples, lineageDF, cfg.rounds - resumeRound)
  }
}
