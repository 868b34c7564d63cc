package graft.core

import graft.lexical.Tokenset
import graft.models.{IconModels, SubScorer}
import graft.retrieve.VectorIndex
import graft.taxo.{CycleException, MutableTaxo}

import scala.collection.mutable
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Engine configuration — leaf names follow the reference config tree
  * (/root/reference/src/icon/config/config.py:35-118, icon.py:37-83). */
case class IconConfig(
    mode: String = "auto", // auto | semiauto | manual
    maxOuterLoop: Option[Int] = None,
    semiautoSeeds: Seq[Long] = Nil,
    inputConcepts: Seq[String] = Nil,
    manualConceptBases: Option[Seq[Seq[Long]]] = None,
    autoBases: Boolean = false,
    randSeed: Long = 114514L,
    retrieveSize: Int = 10,
    restrictCombinations: Boolean = true,
    ignoreLabel: Seq[String] = IconConfig.DefaultIgnoreLabels,
    filterSubset: Boolean = true,
    subgraphCrop: Boolean = true,
    subgraphForce: Seq[Set[String]] = Seq(Set("auto", "original")),
    subgraphStrict: Boolean = true,
    threshold: Double = 0.5,
    tolerance: Int = 0,
    forceBaseSubsumptions: Boolean = false,
    forcePrune: Boolean = false,
    doUpdate: Boolean = true,
    doLexicalCheck: Boolean = true,
    transitiveReduction: Boolean = true,
    // scale guard for the insertion-search-space build: a node whose
    // IN-SPACE child fanout exceeds this keeps only children on paths to
    // the retrieval seeds (base ∪ ancestors-of-base). Int.MaxValue (the
    // default) is exact reference semantics (taxonomy.py:410-458); the KG
    // pipeline lowers it alongside the BandedIndex ANN switch — a FLAT
    // million-node snapshot otherwise makes every candidate's search space
    // the whole graph (measured: round 2 of the 10⁶-candidate drive sat in
    // createInsertionSearchSpace indefinitely).
    maxChildFanout: Int = Int.MaxValue) extends Serializable {
  require(threshold >= 0 && threshold <= 1, "Threshold must be in the range [0,1]")
  /** Default eqv ranking = product of the two scores (config.py:103, icon.py:61). */
  def eqvScore(pSup: Double, pSub: Double): Double = pSup * pSub
}

object IconConfig {
  /** icon.py:51. */
  val DefaultIgnoreLabels: Seq[String] =
    Seq("", "All categories", "Root Concept", "Thing", "Allcats", "Everything", "root")
}

/** One candidate concept's placement decision — the prediction log row
  * (icon.py:412) and the unit compared for P/R in the golden harness. */
case class Decision(
    label: String,
    eqv: Option[(Long, Double)],
    sup: Seq[(Long, Double)],
    sub: Seq[(Long, Double)]) extends Serializable

/** Memoizing (sub, sup) -> P score cache around the batched scorer
  * (reference sub_score_cache, icon.py:149-157). Thread-confined. */
class ScoreCache(scorer: SubScorer) extends Serializable {
  val cache: mutable.HashMap[(String, String), Double] = mutable.HashMap.empty
  var modelCalls: Long = 0L
  var pairsScored: Long = 0L

  /** M4: batch-score and memoize (only unseen pairs hit the model). */
  def prefetch(pairs: Seq[(String, String)]): Unit = {
    val missing = pairs.filterNot(cache.contains).distinct
    if (missing.nonEmpty) {
      val scores = scorer.score(missing)
      modelCalls += 1
      pairsScored += missing.size
      var i = 0
      while (i < missing.size) { cache(missing(i)) = scores(i); i += 1 }
    }
  }

  def get(sub: String, sup: String): Double =
    cache.getOrElseUpdate((sub, sup), {
      modelCalls += 1; pairsScored += 1
      scorer.scoreOne(sub, sup)
    })

  def export: Seq[(String, String, Double)] =
    cache.iterator.map { case ((a, b), p) => (a, b, p) }.toSeq

  /** Only pairs scored by THIS cache instance — excludes pairs loaded by
    * [[importAll]]. The pipeline's per-round checkpoint delta is exactly
    * this set: a pair queried by decide(l) always has the candidate l on
    * one side, and every history pair touching l was imported from the
    * prior slice, so a pair absent from the imports cannot be in the
    * history store — the fresh set needs no anti-join against it. */
  def exportFresh: Seq[(String, String, Double)] =
    cache.iterator.collect {
      case ((a, b), p) if !imported.contains((a, b)) => (a, b, p)
    }.toSeq

  private val imported = mutable.HashSet.empty[(String, String)]

  def importAll(rows: IterableOnce[(String, String, Double)]): Unit =
    rows.iterator.foreach { case (a, b, p) => cache((a, b)) = p; imported += ((a, b)) }
}

/** The placement search + decision logic, stateless over its inputs so it
  * can run inside executor tasks against a broadcast snapshot. */
object IconTraversal {

  /** P3 `enhanced_traversal` (icon.py:187-296), ported decision-exact.
    *
    * Phase 1: top-down BFS from the roots of `taxo` (or from the reduced
    * LCA∪LCA_original of base when forceBaseSubsumptions) accepting nodes
    * with P(node ⊒ newlabel) ≥ threshold; root node 0 auto-accepts p=1;
    * failures explored up to `tolerance` extra hops; forcePrune kills
    * rejected nodes' descendant subtrees. Accepted sup reduced to
    * most-specific. Phase 2: bottom-up symmetric pass collecting subclasses;
    * a node accepted in both directions becomes an equivalence candidate;
    * sub reduced to most-general.
    */
  def enhancedTraversal(taxo: MutableTaxo, newlabel: String, base: Seq[Long],
                        cache: ScoreCache, config: IconConfig)
      : (LinkedHashMap[Long, Double], LinkedHashMap[Long, Double], LinkedHashMap[Long, (Double, Double)]) = {

    val forceKnown = config.forceBaseSubsumptions && base.nonEmpty
    var sup = LinkedHashMap.empty[Long, Double]

    val top: Seq[Long] =
      if (forceKnown) {
        val t = mutable.LinkedHashSet(taxo.getLCA(base): _*)
        t ++= taxo.getLCA(base, Some(Set("original")))
        taxo.reduceSubset(t.toSeq, reverse = true)
      } else taxo.getGCD(Nil)

    val queue = mutable.Queue[(Long, Int)](top.map(n => (n, 0)): _*)
    if (top.nonEmpty) cache.prefetch(top.map(n => (newlabel, taxo.getLabel(n))))
    val visited = mutable.HashSet.empty[Long]

    while (queue.nonEmpty) {
      val (node, fails) = queue.dequeue()
      visited += node
      val toCache = ArrayBuffer.empty[String]
      val p: Double =
        if (node == 0L || (forceKnown && base.forall(b => taxo.subsumes(node, b)))) 1.0
        else cache.get(newlabel, taxo.getLabel(node))

      if (p >= config.threshold) {
        sup(node) = p
        val stop = forceKnown && base.contains(node)
        if (stop) {
          if (config.forcePrune) taxo.getDescendants(node).foreach(visited += _)
        } else {
          for (child <- taxo.getChildren(node) if !visited.contains(child)) {
            queue.enqueue((child, 0)); toCache += taxo.getLabel(child)
          }
          if (toCache.nonEmpty) cache.prefetch(toCache.toSeq.map(l => (newlabel, l)))
        }
      } else if (fails < config.tolerance) {
        for (child <- taxo.getChildren(node) if !visited.contains(child)) {
          queue.enqueue((child, fails + 1)); toCache += taxo.getLabel(child)
        }
        if (toCache.nonEmpty) cache.prefetch(toCache.toSeq.map(l => (newlabel, l)))
      } else if (config.forcePrune) {
        taxo.getDescendants(node).foreach(visited += _)
      }
    }

    if (sup.isEmpty)
      return (LinkedHashMap.empty, LinkedHashMap.empty, LinkedHashMap.empty)

    // icon.py:245-246 — reduce sup to most-specific by dropping sup-ancestors
    val supAncestors = mutable.HashSet.empty[Long]
    for (s <- sup.keys) supAncestors ++= taxo.getAncestors(s)
    sup = sup.filter { case (k, _) => !supAncestors.contains(k) }

    val sub = LinkedHashMap.empty[Long, Double]
    val eqv = LinkedHashMap.empty[Long, (Double, Double)]
    val bottom = taxo.getLCA(Nil)
    val queue2 = mutable.Queue[(Long, Int)](bottom.map(n => (n, 0)): _*)
    if (bottom.nonEmpty) cache.prefetch(bottom.map(n => (taxo.getLabel(n), newlabel)))
    val visited2 = mutable.HashSet.empty[Long]
    visited2 ++= supAncestors

    while (queue2.nonEmpty) {
      val (node, fails) = queue2.dequeue()
      visited2 += node
      val toCache = ArrayBuffer.empty[String]
      val p: Double =
        if (forceKnown && base.contains(node)) 1.0
        else cache.get(taxo.getLabel(node), newlabel)

      if (p >= config.threshold) {
        if (sup.contains(node)) {
          eqv(node) = (sup.remove(node).get, p)
        } else {
          sub(node) = p
          for (parent <- taxo.getParents(node) if !visited2.contains(parent)) {
            queue2.enqueue((parent, 0)); toCache += taxo.getLabel(parent)
          }
          if (toCache.nonEmpty) cache.prefetch(toCache.toSeq.map(l => (l, newlabel)))
        }
      } else if (fails < config.tolerance) {
        for (parent <- taxo.getParents(node) if !visited2.contains(parent)) {
          queue2.enqueue((parent, fails + 1)); toCache += taxo.getLabel(parent)
        }
        if (toCache.nonEmpty) cache.prefetch(toCache.toSeq.map(l => (l, newlabel)))
      } else if (config.forcePrune) {
        taxo.getAncestors(node).foreach(visited2 += _)
      }
    }

    val subReduced =
      if (sub.nonEmpty) {
        val keep = taxo.reduceSubset(sub.keys.toSeq, reverse = true).toSet
        sub.filter { case (k, _) => keep.contains(k) }
      } else sub

    (sup, subReduced, eqv)
  }

  /** P5 `inner_loop` decision portion (icon.py:368-412): search-space build,
    * traversal, lexical override, multi-equivalence resolution. Returns the
    * Decision (prediction log row) without mutating anything — the commit
    * (P4 insert) is applied separately so rounds can batch decisions.
    *
    * `lexicalLookup` resolves the engine tokenset-hash of newlabel against
    * the current taxonomy's lexical table (P1).
    */
  def decide(working: MutableTaxo, newlabel: String, base: Seq[Long],
             cache: ScoreCache, config: IconConfig,
             lexicalLookup: String => Option[Long]): Decision = {

    val subtaxo = working.createInsertionSearchSpace(
      base, cropTop = config.subgraphCrop, forceLabels = config.subgraphForce,
      strict = config.subgraphStrict, maxChildFanout = config.maxChildFanout)

    var (sup, sub, eqv) = enhancedTraversal(subtaxo, newlabel, base, cache, config)

    val resolution = if (config.doLexicalCheck) lexicalLookup(newlabel) else None
    resolution.foreach { node => eqv(node) = (1.0, 1.0) } // icon.py:376-378

    if (sup.isEmpty && eqv.isEmpty)
      return Decision(newlabel, None, Nil, Nil) // rejected (icon.py:383-385)

    if (eqv.size > 1) {
      // icon.py:387-399 — keep best-ranked equivalence, demote the rest
      val ranked = eqv.toSeq.sortBy { case (_, (a, b)) => -config.eqvScore(a, b) }.map(_._1)
      for (k <- ranked.drop(1)) {
        val (pSup, pSub) = eqv.remove(k).get
        if (pSup >= pSub) sup(k) = pSup else sub(k) = pSub
      }
    }

    if (eqv.nonEmpty) {
      val eqvc = eqv.keys.head
      val score = { val (a, b) = eqv(eqvc); config.eqvScore(a, b) }
      sup.remove(eqvc); sub.remove(eqvc) // icon.py:404-405
      Decision(newlabel, Some((eqvc, score)), sup.toSeq, sub.toSeq)
    } else {
      Decision(newlabel, None, sup.toSeq, sub.toSeq)
    }
  }
}

/** Driver-local sequential engine — bit-compatible with the reference's
  * mutate-as-you-go loop (used for decision-parity goldens and for
  * broadcast-sized taxonomies). The distributed round-based engine
  * (graft.pipeline.KgPipeline) reuses IconTraversal against a frozen
  * snapshot and commits through the same insert() semantics.
  */
class IconEngine(val models: IconModels, var config: IconConfig) extends Serializable {

  var working: MutableTaxo = _
  var nextKey: Long = _
  val lexical: mutable.HashMap[Long, Long] = mutable.HashMap.empty // tokensetHash -> node
  var scoreCache: ScoreCache = new ScoreCache(models.sub)
  val logs: LinkedHashMap[String, Decision] = LinkedHashMap.empty
  var progress: (Long, Long) = (0L, 0L) // (classes added, edges added)
  var index: VectorIndex = _

  def loadLexical(taxo: MutableTaxo): Unit = {
    lexical.clear()
    for (n <- taxo.nodes) {
      val l = taxo.getLabel(n)
      if (l != null) lexical(Tokenset.hash64(l)) = n
    }
  }

  def lexicalCheck(label: String): Option[Long] = lexical.get(Tokenset.hash64(label))

  def buildIndex(taxo: MutableTaxo): Unit = {
    val ns = taxo.nodes.toArray
    val vecs = models.emb.embedBatched(ns.map(taxo.getLabel).toSeq)
    index = new VectorIndex(ns, vecs)
  }

  /** P2 `generate` (icon.py:171-185): trivial-LCA filter + ignore-list filter. */
  def generate(base: Seq[Long]): Option[String] = {
    if (config.filterSubset) {
      val lca = working.getLCA(base).toSet
      if (lca.subsetOf(base.toSet)) return None
    }
    val newlabel = models.gen.generate(base.map(working.getLabel))
    if (config.ignoreLabel.contains(newlabel)) None else Some(newlabel)
  }

  /** P4 `insert` (icon.py:298-366): commit one decision into the working
    * taxonomy; cycle-creating edges are silently discarded. Returns
    * (nodesAdded, edgesAdded). */
  def insert(newlabel: String, eqv: Option[Long], sup: Seq[Long], sub: Seq[Long]): (Long, Long) = {
    var nodesAdded = 0L
    val supR = working.reduceSubset(sup)
    val subR = working.reduceSubset(sub, reverse = true)

    val selfClass: Long = eqv match {
      case Some(e) =>
        require(working.containsNode(e), s"Equivalent class $e not found")
        e
      case None =>
        if (working.addNode(nextKey, Some(newlabel)) == 0) {
          lexical(Tokenset.hash64(newlabel)) = nextKey
          val k = nextKey
          nextKey += 1
          nodesAdded = 1
          k
        } else throw new IllegalStateException(s"Key conflict: $nextKey")
    }

    var edgesAdded = 0L
    for (superclass <- supR) {
      try { if (working.addEdge(selfClass, superclass, "new") == 0) edgesAdded += 1 }
      catch { case _: CycleException => }
    }
    for (subclass <- subR) {
      try { if (working.addEdge(subclass, selfClass, "new") == 0) edgesAdded += 1 }
      catch { case _: CycleException => }
    }
    (nodesAdded, edgesAdded)
  }

  /** P5 `inner_loop` (icon.py:368-413): decide, log, optionally insert. */
  def innerLoop(newlabel: String, base: Seq[Long]): (Long, Long) = {
    val d = IconTraversal.decide(working, newlabel, base, scoreCache, config, lexicalCheck)
    logs(newlabel) = d
    if (d.eqv.isEmpty && d.sup.isEmpty) (0L, 0L)
    else if (config.doUpdate)
      insert(newlabel, d.eqv.map(_._1), d.sup.map(_._1), d.sub.map(_._1))
    else (0L, 0L)
  }

  /** P6 `outer_loop` (icon.py:415-451): retrieve-around-seed, enumerate
    * candidate subsets, generate + place each. Returns (progress, processed). */
  def outerLoop(seed: Long): ((Long, Long), Set[Long]) = {
    var prog = (0L, 0L)
    val (_, baseClasses) = index.search(index.reconstruct(seed), config.retrieveSize)
    val pairs: Seq[Seq[Long]] =
      if (config.restrictCombinations)
        baseClasses.filterNot(_ == seed).map(b => Seq(seed, b)).toSeq
      else baseClasses.toSeq.combinations(2).toSeq
    for (subset <- pairs) {
      generate(subset) match {
        case Some(newlabel) =>
          val p = innerLoop(newlabel, subset)
          prog = (prog._1 + p._1, prog._2 + p._2)
        case None =>
      }
    }
    (prog, baseClasses.toSet)
  }

  /** P7 `auto` (icon.py:453-488) with deterministic hash-ranked seed choice
    * instead of np.random (SURVEY.md §7.4.4 — NumPy's RNG is not
    * reproducible on the JVM; goldens pin semiauto/manual modes). */
  def auto(): Unit = {
    buildIndex(working)
    var seedpool = mutable.LinkedHashSet(working.bottomNodes: _*)
    val maxOuter = config.maxOuterLoop.getOrElse(seedpool.size)
    var count = 0
    while (count < maxOuter && seedpool.nonEmpty) {
      val seed = seedpool.minBy(n => (Tokenset.fnv1a64(s"${config.randSeed}:$n:$count"), n))
      count += 1
      val (prog, processed) = outerLoop(seed)
      progress = (progress._1 + prog._1, progress._2 + prog._2)
      seedpool = seedpool.filterNot(processed.contains)
    }
  }

  /** P8 `semiauto` (icon.py:490-513). */
  def semiauto(): Unit = {
    require(config.semiautoSeeds.nonEmpty, "Please provide a list of seeds in semiauto mode")
    buildIndex(working)
    for (seed <- config.semiautoSeeds) {
      val (prog, _) = outerLoop(seed)
      progress = (progress._1 + prog._1, progress._2 + prog._2)
    }
  }

  /** P9 `manual` (icon.py:515-556) — the extract→link→insert entry point:
    * input labels with explicit bases, kNN bases (autoBases), or global search. */
  def manual(): Unit = {
    require(config.inputConcepts.nonEmpty, "Please provide a list of manual inputs in manual mode")
    val bases: Seq[Seq[Long]] =
      if (config.autoBases) {
        buildIndex(working)
        config.inputConcepts.map { label =>
          index.search(models.emb.embedOne(label), config.retrieveSize)._2.toSeq
        }
      } else config.manualConceptBases match {
        case None => Seq.fill(config.inputConcepts.size)(Seq.empty)
        case Some(bs) =>
          require(bs.size == config.inputConcepts.size,
            "Lengths of input_concepts and manual_concept_bases must match")
          bs
      }
    for ((newlabel, base) <- config.inputConcepts.zip(bases)) {
      val p = innerLoop(newlabel, base)
      progress = (progress._1 + p._1, progress._2 + p._2)
    }
  }

  /** P10 `run` (icon.py:558-625): working copy, nextkey init, mode dispatch,
    * final transitive reduction + unconditional original-edge restore. */
  def run(data: MutableTaxo): MutableTaxo = {
    working = data.deepCopy()
    if (config.doLexicalCheck) loadLexical(working)
    logs.clear()
    progress = (0L, 0L)
    nextKey = working.nodes.max + 1

    config.mode match {
      case "auto" => auto()
      case "semiauto" => semiauto()
      case _ => manual()
    }

    if (config.transitiveReduction) {
      val tr = working.transitiveReduction()
      val trEdges = tr.edges.map { case (u, v, _) => (u, v) }.toSet
      for ((u, v, _) <- working.edges if !trEdges.contains((u, v)))
        working.removeEdge(u, v)
    }
    // icon.py:614 — restore all original edges unconditionally (no cycle re-check)
    for ((u, v, l) <- data.edges) { working.succ(u)(v) = l; working.pred(v)(u) = l }
    working
  }

  /** Triples view of the run result: `new`-labelled edges as (subj isA obj),
    * equivalences as (label sameAs label). */
  def triples(data: MutableTaxo): Seq[(String, String, String)] = {
    val out = ArrayBuffer.empty[(String, String, String)]
    val orig = data.edges.map { case (u, v, _) => (u, v) }.toSet
    for ((u, v, l) <- working.edges if !orig.contains((u, v)))
      out += ((working.getLabel(u), "isA", working.getLabel(v)))
    for ((label, d) <- logs; (node, _) <- d.eqv)
      out += ((label, "sameAs", working.getLabel(node)))
    out.toSeq
  }
}
