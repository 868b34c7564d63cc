package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed DataFrame graph algorithms over an edge table
  * `edges(src LONG, dst LONG)` where src = child and dst = parent
  * (subClassOf orientation, matching the reference Taxonomy.
  * /root/reference/src/icon/core/taxonomy.py:26).
  *
  * These are the at-scale twins of the broadcast-snapshot operators in
  * [[graft.taxo.MutableTaxo]]: same semantics, expressed as iterative
  * join/union/distinct fixpoints so they work when the graph itself is the
  * distributed axis (SURVEY.md §2.2). Iteration counts are bounded by graph
  * depth; every loop persists + localCheckpoints its frontier to cut lineage.
  *
  * Join strategy inside the fixpoints is SIZE-ADAPTIVE (optimization guide
  * §3.1): a localCheckpointed frontier/closure is RDD-backed, so Spark's
  * size estimate is `defaultSizeInBytes` (huge) and the planner would pick
  * a full shuffle join for a 50-row frontier. Every loop already knows the
  * EXACT row count of its materialized tables (the convergence probe), so
  * tables under [[broadcastRowLimit]] get an explicit broadcast hint and
  * larger ones keep the shuffle plan — the hint is a plan choice only,
  * results are identical, and at 100 TB scale the counts exceed the limit
  * and the shuffle path is what runs.
  *
  * Session note: when these fixpoints are driven from DRIVER-BUILT
  * DataFrames (`Seq.toDF`, as in tests or the pipeline's distributed
  * canonicalize path), Spark's constraint propagation can fail inside
  * `Union.rewriteConstraints` with `NoSuchElementException: key not found:
  * <attr>` — localCheckpointed plans carry origin constraints whose
  * attribute ids no longer resolve. Set
  * `spark.sql.constraintPropagation.enabled=false` in such sessions
  * (SparkSpecBase does); parquet-backed inputs are unaffected.
  */
object GraphOps {

  /** Max row count for an adaptive broadcast hint inside the fixpoints.
    * 1M (long, long) rows is ~30 MB as a built hash relation — safely under
    * executor memory on any sane deployment; override per session with
    * `spark.conf.set("graft.broadcastRowLimit", n)` (0 disables hinting).
    * This is a scale-adaptive plan choice, not a tuning constant: the
    * decision input is the exact measured row count of the loop's own
    * checkpointed table, so production-size graphs automatically exceed the
    * limit and keep the shuffle join. */
  private def broadcastRowLimit(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.broadcastRowLimit", "1000000").toLong

  /** Broadcast-hint `df` when its known exact row count is within the
    * session's limit; otherwise return it unchanged (shuffle join).
    * private[graft]: callers that already hold an exact count (e.g.
    * TrainDataOps over a counted closure) reuse the same adaptive rule. */
  private[graft] def hinted(df: DataFrame, exactRows: Long): DataFrame =
    if (exactRows <= broadcastRowLimit(df)) broadcast(df) else df

  /** Driver-regime edge bound for the closure/depth/TR fixpoints (the
    * connectedComponents pattern): an edge table whose EXACT measured count
    * is within this limit is collected (≤ ~16 MB at the 1M default) and the
    * graph op runs as a local worklist algorithm — identical output,
    * equivalence-tested — while larger graphs run the distributed fixpoint.
    * Override per session with `graft.graphDriverEdgeLimit` (0 disables the
    * driver regime). */
  private def graphDriverEdgeLimit(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.graphDriverEdgeLimit", "1000000").toLong

  /** The closure's ROW count is not bounded by the edge count (a 1M-edge
    * deep DAG can close to billions of pairs), so the local closure attempt
    * aborts past this many pairs and falls back to the distributed fixpoint
    * — the wasted local work is bounded by the cap. The pairs are boxed
    * `(Long, Long)` tuples, about 44 B each (a 40-byte specialized Tuple2
    * plus its reference): 8M pairs measured 339 MB of driver heap, plus
    * 32 MB for the final array copy. `graft.graphDriverClosureLimit`. */
  private def graphDriverClosureLimit(df: DataFrame): Long =
    df.sparkSession.conf.get("graft.graphDriverClosureLimit", "8000000").toLong

  private def isLongLong(df: DataFrame): Boolean =
    df.schema.fields.length >= 2 &&
      df.schema.fields.take(2).forall(_.dataType == org.apache.spark.sql.types.LongType)

  /** Materialize a driver-computed pair list: a LocalRelation for small
    * results, an RDD partitioned every ~500k rows beyond (a multi-million-
    * row LocalRelation would serialize whole into every plan using it). */
  private def localPairsDF(spark: SparkSession, rows: Array[(Long, Long)],
                           c1: String, c2: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    if (rows.length <= 100000) spark.createDataFrame(rows.toSeq).toDF(c1, c2)
    else spark.sparkContext
      .parallelize(rows.toSeq, math.max(1, rows.length / 500000)).toDF(c1, c2)
  }

  /** Local upward-reachability closure over a collected edge list: for each
    * node, BFS over the parent adjacency — EXACTLY the distributed
    * fixpoint's semantics, including self-pairs reachable through cycles
    * (seed (a,b),(b,a) closes to (a,a)). Returns None past `cap` pairs. */
  private def localClosure(edgeArr: Array[(Long, Long)],
                           cap: Long): Option[Array[(Long, Long)]] = {
    val parents = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    edgeArr.foreach { case (s, d) =>
      parents.computeIfAbsent(s, _ => new java.util.ArrayList[Long]()).add(d)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val seen = new java.util.HashSet[Long]()
    val stack = new java.util.ArrayDeque[Long]()
    val it = parents.keySet().iterator()
    while (it.hasNext) {
      val n = it.next()
      seen.clear(); stack.clear()
      stack.push(n)
      while (!stack.isEmpty) {
        val cur = stack.pop()
        val ps = parents.get(cur)
        if (ps != null) {
          var i = 0
          while (i < ps.size()) {
            val p = ps.get(i)
            if (seen.add(p)) {
              out += ((n, p))
              if (out.length > cap) return None
              stack.push(p)
            }
            i += 1
          }
        }
      }
    }
    Some(out.toArray)
  }

  /** Transitive closure pairs (node, ancestor), excluding self-pairs —
    * distributed `get_ancestors` (G5, taxonomy.py:167-189). Iterative
    * frontier expansion: O(depth) shuffles, each a join on the frontier
    * (small) against the edge table — not closure×closure squaring, so the
    * shuffle volume stays proportional to the closure size. Edge tables
    * within [[graphDriverEdgeLimit]] run the local worklist twin instead
    * (regime switch; pass `driverEdgeLimit = 0` to force distributed).
    */
  def ancestorClosure(edges: DataFrame, maxIter: Int = 64,
                      driverEdgeLimit: Long = -1L): DataFrame =
    ancestorClosureCounted(edges, maxIter, driverEdgeLimit)._1

  /** [[ancestorClosure]] plus the closure's exact row count — callers that
    * immediately join against the closure (transitiveReduction) use the
    * count for the adaptive broadcast decision without a second job. */
  private[graft] def ancestorClosureCounted(
      edges: DataFrame, maxIter: Int = 64,
      driverEdgeLimit: Long = -1L): (DataFrame, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val projected = edges.select(col("src").as("node"), col("dst").as("anc"))
    val edgeLimit =
      if (driverEdgeLimit >= 0) driverEdgeLimit else graphDriverEdgeLimit(edges)
    // driver regime probe BEFORE any distributed work: collect the RAW
    // edge rows under the cap (limit(cap+1) detects overflow in one job —
    // the TR pattern). The worklist closure is duplicate-edge-insensitive
    // (`seen` guards every push), so skipping the distributed distinct +
    // localCheckpoint + count (three jobs) changes no output row; the
    // regime boundary is now the RAW row count (stricter — a table over
    // the cap only in duplicates falls back to the distributed loop,
    // which distincts it as before).
    if (edgeLimit > 0 && isLongLong(projected)) {
      val cap = math.min(edgeLimit, Int.MaxValue - 2L).toInt
      val raw = projected.limit(cap + 1).as[(Long, Long)].collect()
      if (raw.length <= cap) {
        localClosure(raw, graphDriverClosureLimit(edges)) match {
          case Some(pairs) =>
            return (localPairsDF(spark, pairs, "node", "anc"), pairs.length.toLong)
          case None => () // closure larger than the driver cap: fall through
        }
      }
    }
    // localCheckpoint (not just persist): the frontier unions below mix this
    // seed with checkpointed RDD-backed plans; leaving a LocalRelation-
    // shaped child under the Union trips constraint rewriting
    // (AttributeMap key-not-found) when the input is a driver-built table
    val e = projected.distinct().localCheckpoint(true)
    val eCount = e.count()
    var closure = e
    var closureCount = eCount
    var frontier = e
    var frontierCount = eCount
    var i = 0
    var done = false
    // one full expansion of `frontier` against `e`, minus what `closure`
    // already holds — the loop step AND the post-maxIter emptiness probe
    def step(): DataFrame = frontier.as("f")
      .join(hinted(e, eCount).as("e2"), col("f.anc") === col("e2.node"))
      .select(col("f.node").as("node"), col("e2.anc").as("anc"))
      .distinct()
      // distinct hash-partitions by (node, anc); the anti-join below needs
      // the same keys, so when the closure side is hinted the step is ONE
      // exchange, and un-hinted the left side's exchange is still reused
      .join(hinted(closure, closureCount), Seq("node", "anc"), "left_anti")
      .localCheckpoint(true)
    while (i < maxIter && !done) {
      val next = step()
      frontierCount = next.count()
      if (frontierCount == 0) done = true
      else {
        closure = closure.union(next).localCheckpoint(true)
        closureCount += frontierCount
        frontier = next
      }
      i += 1
    }
    // a fixpoint that completes EXACTLY at maxIter leaves done=false (the
    // emptiness of the next frontier is only learned one iteration later),
    // so probe once more before declaring divergence
    if (!done) done = step().isEmpty
    // no-silent-caps: a >maxIter-deep graph would otherwise return a
    // truncated closure and every downstream op (TR, LCA, reduceSubset,
    // search spaces) would be silently wrong on the deep tail
    require(done, s"ancestorClosure did not converge in $maxIter iterations " +
      "(graph deeper than maxIter) — raise maxIter")
    (closure, closureCount)
  }

  /** Leaves = nodes never appearing as a parent (empty-input LCA,
    * taxonomy.py:353): anti-join of nodes vs edges.dst. Renamed join keys —
    * `nodes` is often derived from `edges`, so raw column references would
    * resolve ambiguously against the shared lineage. */
  def leaves(nodes: DataFrame, edges: DataFrame): DataFrame =
    nodes.join(edges.select(col("dst").as("__p")), col("id") === col("__p"), "left_anti")

  /** Roots / top nodes = nodes never appearing as a child (taxonomy.py:389). */
  def roots(nodes: DataFrame, edges: DataFrame): DataFrame =
    nodes.join(edges.select(col("src").as("__c")), col("id") === col("__c"), "left_anti")

  /** Raw edge rows collected under the driver-regime cap, or None when the
    * table exceeds it (limit(cap+1) detects overflow in ONE job — no
    * distributed distinct/count first). Shared probe for the driver fast
    * paths; callers' kernels must be duplicate-edge-insensitive. */
  private def rawEdgeProbe(edges: DataFrame,
                           driverEdgeLimit: Long): Option[Array[(Long, Long)]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val projected = edges.select(col("src"), col("dst"))
    val edgeLimit =
      if (driverEdgeLimit >= 0) driverEdgeLimit else graphDriverEdgeLimit(edges)
    if (edgeLimit > 0 && isLongLong(projected)) {
      val cap = math.min(edgeLimit, Int.MaxValue - 2L).toInt
      val raw = projected.limit(cap + 1).as[(Long, Long)].collect()
      if (raw.length <= cap) Some(raw) else None
    } else None
  }

  /** One-column id DataFrame for a driver-computed node list (the
    * localPairsDF sizing rule). */
  private def localIdsDF(spark: org.apache.spark.sql.SparkSession,
                         ids: Array[Long], name: String): DataFrame = {
    import spark.implicits._
    if (ids.length <= 100000) spark.createDataFrame(ids.toSeq.map(Tuple1(_))).toDF(name)
    else spark.sparkContext
      .parallelize(ids.toSeq, math.max(1, ids.length / 500000)).toDF(name)
  }

  /** [[leaves]] specialized to the common `nodes ≡ distinct(src ∪ dst)`
    * derivation: edge tables under the driver cap are collected once (raw,
    * one job) and the leaf set — distinct srcs that never appear as a dst
    * (a dst row is its own parent's child, never a leaf) — is computed
    * locally; output rows are identical to
    * `leaves(distinct(src ∪ dst), edges)` (one row per leaf id, order
    * irrelevant to every caller, which sorts). Over-cap tables run exactly
    * that distributed anti-join, with the edge table materialized once. */
  def leavesOfEdgeNodes(edges: DataFrame, driverEdgeLimit: Long = -1L): DataFrame = {
    val spark = edges.sparkSession
    rawEdgeProbe(edges, driverEdgeLimit) match {
      case Some(raw) =>
        val dst = new java.util.HashSet[Long]()
        raw.foreach { case (_, d) => dst.add(d) }
        val seen = new java.util.HashSet[Long]()
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        raw.foreach { case (s, _) => if (!dst.contains(s) && seen.add(s)) out += s }
        localIdsDF(spark, out.toArray, "id")
      case None =>
        val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
        val ids = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        leaves(ids, e)
    }
  }

  /** [[depths]] specialized to `nodes ≡ distinct(src ∪ dst)`: under the
    * driver cap the node set derives from the one collected edge list (no
    * separate distributed distinct + node collect), output rows identical
    * to `depths(distinct(src ∪ dst), edges)` — that derivation emits one
    * row per id, exactly the BFS's per-id emission. */
  def depthsOfEdgeNodes(edges: DataFrame, maxIter: Int = 64,
                        driverEdgeLimit: Long = -1L): DataFrame = {
    val spark = edges.sparkSession
    rawEdgeProbe(edges, driverEdgeLimit) match {
      case Some(raw) =>
        val seen = new java.util.HashSet[Long]()
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        raw.foreach { case (s, d) =>
          if (seen.add(s)) ids += s
          if (seen.add(d)) ids += d
        }
        localDepthsDF(spark, ids.toArray, raw)
      case None =>
        val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
        val ids = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        // the probe already established the table is over the cap (or not
        // long-typed): driverEdgeLimit = 0 skips depths' identical re-probe
        depths(ids, e, maxIter, driverEdgeLimit = 0L)
    }
  }

  /** Driver twin of the depths fixpoint: multi-source BFS from the root
    * set over a collected edge list. Root rows are emitted once per
    * node-array occurrence (exactly as roots() would), discovered
    * non-roots once per id; duplicate edges are no-ops (depthOf guard).
    * Shared by [[depths]]'s driver regime and [[depthsOfEdgeNodes]]. */
  private def localDepthsDF(spark: org.apache.spark.sql.SparkSession,
                            nodeArr: Array[Long],
                            edgeArr: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val children = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
    val isChild = new java.util.HashSet[Long]()
    edgeArr.foreach { case (s, d) =>
      children.computeIfAbsent(d, _ => new java.util.ArrayList[Long]()).add(s)
      isChild.add(s)
    }
    val depthOf = new java.util.HashMap[Long, Int]()
    var frontier = nodeArr.iterator.filter(!isChild.contains(_)).toArray.distinct
    frontier.foreach(depthOf.put(_, 0))
    var d = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    // root rows per node-array occurrence (duplicate node rows stay
    // duplicated, exactly as roots() would emit them)
    nodeArr.foreach(n => if (!isChild.contains(n)) out += ((n, 0)))
    while (frontier.nonEmpty) {
      d += 1
      val next = scala.collection.mutable.ArrayBuffer.empty[Long]
      frontier.foreach { p =>
        val cs = children.get(p)
        if (cs != null) {
          var i = 0
          while (i < cs.size()) {
            val c = cs.get(i)
            if (!depthOf.containsKey(c)) {
              depthOf.put(c, d); next += c; out += ((c, d))
            }
            i += 1
          }
        }
      }
      frontier = next.toArray
    }
    if (out.length <= 100000)
      spark.createDataFrame(out.toSeq).toDF("id", "depth")
    else spark.sparkContext
      .parallelize(out.toSeq, math.max(1, out.length / 500000))
      .toDF("id", "depth")
  }

  /** Per-node min distance from any root — distributed `annotate_levels`
    * (G13/G15, taxonomy.py:460-517). Level-synchronous BFS: the frontier at
    * iteration k holds EXACTLY the nodes whose min depth is k (a node is
    * discovered the first time any parent enters the frontier, and every
    * frontier node's depth is the iteration index), so "keep only
    * improvements" reduces to an anti-join against the visited set — no
    * per-iteration min-aggregation or depth comparison join (each iteration
    * is one distinct + one anti-join, both on the frontier, not the level
    * table). */
  def depths(nodes: DataFrame, edges: DataFrame, maxIter: Int = 64,
             driverEdgeLimit: Long = -1L): DataFrame = {
    val projected = edges.select(col("src"), col("dst"))
    val edgeLimit =
      if (driverEdgeLimit >= 0) driverEdgeLimit else graphDriverEdgeLimit(edges)
    if (edgeLimit > 0 && isLongLong(projected) &&
        nodes.schema.fields.exists(f => f.name == "id" &&
          f.dataType == org.apache.spark.sql.types.LongType)) {
      // driver regime: multi-source BFS from the root set over the collected
      // edge list — identical rows to the distributed fixpoint (roots emit
      // one row PER NODE-TABLE OCCURRENCE like roots(), discovered non-roots
      // one row per id like the distinct'd frontier). The RAW edge rows are
      // collected under the cap (limit(cap+1) detects overflow in one job,
      // the TR/closure pattern — no distributed distinct + checkpoint +
      // count first): the BFS is duplicate-edge-insensitive (the depthOf /
      // isChild guards make a repeated edge a no-op), so output rows are
      // identical; the regime boundary is the RAW row count (stricter —
      // duplicate-heavy tables fall back to the distributed loop, which
      // distincts as before). Node table collected under the same cap.
      val spark = edges.sparkSession
      import spark.implicits._
      val cap = math.min(edgeLimit, Int.MaxValue - 2L).toInt
      val rawEdges = projected.limit(cap + 1).as[(Long, Long)].collect()
      val nodeArr =
        if (rawEdges.length <= cap)
          nodes.select(col("id")).limit(cap + 1).as[Long].collect()
        else Array.empty[Long]
      if (rawEdges.length <= cap && nodeArr.length <= cap)
        return localDepthsDF(spark, nodeArr, rawEdges)
    }
    val e = projected.distinct().localCheckpoint(true)
    val eCount = e.count()
    var level = roots(nodes, edges).select(col("id"), lit(0).as("depth"))
      .localCheckpoint(true)
    var levelCount = level.count()
    var frontier = level
    var i = 0
    var done = false
    // children of the frontier not yet visited (= exactly the nodes whose
    // min depth is i+1); also the post-maxIter emptiness probe
    def step(depth: Int): DataFrame = frontier.as("f")
      .join(hinted(e, eCount).as("e2"), col("f.id") === col("e2.dst"))
      .select(col("e2.src").as("id"))
      .distinct()
      .join(hinted(level.select(col("id")), levelCount), Seq("id"), "left_anti")
      .select(col("id"), lit(depth).as("depth"))
      .localCheckpoint(true)
    while (i < maxIter && !done) {
      val next = step(i + 1)
      val n = next.count()
      if (n == 0) done = true
      else {
        // next is disjoint from level BY CONSTRUCTION (the anti-join), so
        // the union needs no dedup pass
        level = level.union(next).localCheckpoint(true)
        levelCount += n
        frontier = next
      }
      i += 1
    }
    if (!done) done = step(i + 1).isEmpty // fixpoint exactly at maxIter
    require(done, s"depths did not converge in $maxIter iterations " +
      "(graph deeper than maxIter) — raise maxIter")
    level
  }

  /** Distributed transitive reduction (G18, taxonomy.py:620-629): an edge
    * (u,v) is redundant iff a path u→…→v of length ≥ 2 exists, i.e. some
    * other parent p of u reaches v through the closure. */
  def transitiveReduction(edges: DataFrame, driverEdgeLimit: Long = -1L): DataFrame = {
    val edgeLimit =
      if (driverEdgeLimit >= 0) driverEdgeLimit else graphDriverEdgeLimit(edges)
    // driver regime (the closure/CC pattern): collect the raw edge rows
    // under the cap (limit(cap+1) detects overflow in one job), close
    // locally, and filter redundant edges on the driver — an edge (u,v) is
    // redundant iff some OTHER parent p of u reaches v through the closure,
    // byte-identical to the distributed semi-join below. Only for bare
    // (src, dst) long tables: extra columns or other types keep the
    // distributed plan (whose anti-join preserves them).
    if (edgeLimit > 0 && edges.columns.sameElements(Array("src", "dst")) &&
        isLongLong(edges)) {
      val spark = edges.sparkSession
      import spark.implicits._
      val cap = math.min(edgeLimit, Int.MaxValue - 2L).toInt
      val raw = edges.limit(cap + 1).as[(Long, Long)].collect()
      if (raw.length <= cap) {
        localClosure(raw.distinct, graphDriverClosureLimit(edges)) match {
          case Some(pairs) =>
            val anc = new java.util.HashMap[Long, java.util.HashSet[Long]]()
            pairs.foreach { case (n, a) =>
              anc.computeIfAbsent(n, _ => new java.util.HashSet[Long]()).add(a)
            }
            val parents = new java.util.HashMap[Long, java.util.ArrayList[Long]]()
            raw.distinct.foreach { case (s, d) =>
              parents.computeIfAbsent(s, _ => new java.util.ArrayList[Long]()).add(d)
            }
            def redundant(u: Long, v: Long): Boolean = {
              val ps = parents.get(u)
              var i = 0
              while (i < ps.size()) {
                val p = ps.get(i)
                if (p != v) {
                  val s = anc.get(p)
                  if (s != null && s.contains(v)) return true
                }
                i += 1
              }
              false
            }
            // filter the RAW rows: duplicates and row order survive exactly
            // as the distributed left_anti keeps them
            return localPairsDF(spark,
              raw.filter { case (u, v) => !redundant(u, v) }, "src", "dst")
          case None => () // closure over the cap: distributed path below
        }
      }
    }
    val (closure, closureCount) = ancestorClosureCounted(edges)
    // 2+hop reachability: first hop through a parent, then closure-or-self
    val viaParent = edges.as("e1")
      .join(edges.as("e2"), col("e1.src") === col("e2.src") && col("e1.dst") =!= col("e2.dst"))
      .select(col("e1.src").as("src"), col("e1.dst").as("dst"), col("e2.dst").as("mid"))
    val redundant = viaParent
      .join(hinted(closure, closureCount),
        viaParent("mid") === closure("node") && viaParent("dst") === closure("anc"),
        "left_semi")
      .select(col("src"), col("dst")).distinct()
    edges.join(redundant, Seq("src", "dst"), "left_anti")
  }

  /** Distributed `reduce_subset` (G9, taxonomy.py:306-336): drop every
    * member that is an ancestor of another member (forward; keeps the most
    * specific), or a descendant (reverse=true; keeps the most general).
    * `subset` is a node table `(id)`. Pass a precomputed closure when
    * composing several of these ops to reuse the fixpoint. */
  def reduceSubset(edges: DataFrame, subset: DataFrame, reverse: Boolean = false,
                   closure0: Option[DataFrame] = None): DataFrame = {
    val closure = closure0.getOrElse(ancestorClosure(edges))
    // closure pairs with BOTH endpoints in the subset: anc is an ancestor
    // of node, so forward drops the anc side, reverse drops the node side
    val rel = closure
      .join(subset.select(col("id").as("node")), Seq("node"), "left_semi")
      .join(subset.select(col("id").as("anc")), Seq("anc"), "left_semi")
    val drop =
      if (reverse) rel.select(col("node").as("id")).distinct()
      else rel.select(col("anc").as("id")).distinct()
    subset.join(drop, Seq("id"), "left_anti")
  }

  /** Distributed `get_LCA` (G10, taxonomy.py:338-372): common ancestors =
    * nodes whose descendant-or-self set covers every query node, reduced to
    * the minimal ones. Empty query ⇒ leaves (reference semantics). One
    * aggregation over the closure instead of the driver's colour-BFS. */
  def lca(nodes: DataFrame, edges: DataFrame, query: DataFrame,
          closure0: Option[DataFrame] = None): DataFrame = {
    // localCheckpoint, not persist: eager (the count below reads the cached
    // RDD) and GC-reclaimed when the plan dies — persist() here leaked one
    // cache-manager entry per lca() call
    val q = query.select(col("id")).distinct().localCheckpoint(true)
    val n0 = q.count()
    if (n0 == 0) return leaves(nodes, edges)
    val closure = closure0.getOrElse(ancestorClosure(edges))
    val closureSelf = closure
      .union(q.select(col("id").as("node"), col("id").as("anc")))
    val ca = closureSelf
      .join(hinted(q.select(col("id").as("node")), n0), Seq("node"), "left_semi")
      .groupBy(col("anc")).agg(countDistinct(col("node")).as("covered"))
      .filter(col("covered") === n0)
      .select(col("anc").as("id"))
    reduceSubset(edges, ca, reverse = false, closure0 = Some(closure))
  }

  /** Distributed `get_GCD` (G11 dual): common descendants reduced to the
    * maximal ones; empty query ⇒ roots. */
  def gcd(nodes: DataFrame, edges: DataFrame, query: DataFrame): DataFrame = {
    val q = query.select(col("id")).distinct()
    if (q.isEmpty) return roots(nodes, edges)
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    lca(nodes, rev, q)
  }

  /** Distributed `create_insertion_search_space` node set (G12,
    * taxonomy.py:410-458): everything reachable downward from the LCA of
    * the reduced base (or the roots when cropTop=false) without expanding
    * below a base node, excluding strict base-descendants, and — when
    * strict — keeping only nodes that subsume at least one base node.
    * `forceLabels` mirrors subgraph_force (taxonomy.py:424-429): the top
    * set is unioned with the base's LCAs computed over label-filtered edge
    * subsets (edges must then carry a `label` column), reduced to the most
    * general. Returns the node ids of the sub-taxonomy (the per-candidate
    * traversal itself stays executor-local against the broadcast snapshot —
    * this is the contingency for taxonomies beyond broadcast size,
    * SURVEY.md §2.2). */
  def insertionSearchSpaceNodes(nodes: DataFrame, edges: DataFrame, base: DataFrame,
                                cropTop: Boolean = true, strict: Boolean = false,
                                forceLabels: Seq[Set[String]] = Nil,
                                maxIter: Int = 64): DataFrame = {
    // empty base ⇒ the whole taxonomy (reference deepcopy(self),
    // taxonomy.py:422-423) — without this the lca() empty-query leaf
    // semantics would wrongly shrink the space to the leaves
    if (base.isEmpty) return nodes.select(col("id"))
    val closure = ancestorClosure(edges).persist(StorageLevel.MEMORY_AND_DISK)
    val baseR = reduceSubset(edges, base, reverse = false, closure0 = Some(closure))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val top =
      if (!cropTop) roots(nodes, edges)
      else if (forceLabels.nonEmpty) {
        val plain = lca(nodes, edges, baseR, closure0 = Some(closure))
        val forced = forceLabels.map { ls =>
          val fe = edges.filter(col("label").isin(ls.toSeq: _*))
          lca(nodes, fe, baseR)
        }
        val union = forced.foldLeft(plain.select(col("id")))(
          (acc, f) => acc.union(f.select(col("id")))).distinct()
        reduceSubset(edges, union, reverse = true, closure0 = Some(closure))
      } else lca(nodes, edges, baseR, closure0 = Some(closure))
    val baseDesc = closure
      .join(baseR.select(col("id").as("anc")), Seq("anc"), "left_semi")
      .select(col("node").as("id")).distinct()
    val allowed0 =
      if (!strict) nodes.select(col("id"))
      else closure // ancestors-or-self of base
        .join(baseR.select(col("id").as("node")), Seq("node"), "left_semi")
        .select(col("anc").as("id")).union(baseR.select(col("id"))).distinct()
    val allowed = allowed0.join(baseDesc, Seq("id"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var space = top.select(col("id")).distinct().localCheckpoint(true)
    var frontier = space
    var i = 0
    var done = false
    def step(): DataFrame = frontier
      // don't expand below a base node (reference line 271)
      .join(baseR, Seq("id"), "left_anti")
      .join(e, col("id") === col("dst"))
      .select(col("src").as("id")).distinct()
      .join(allowed, Seq("id"), "left_semi")
      .join(space, Seq("id"), "left_anti")
      .localCheckpoint(true)
    while (i < maxIter && !done) {
      val next = step()
      if (next.isEmpty) done = true
      else {
        space = space.union(next).localCheckpoint(true)
        frontier = next
      }
      i += 1
    }
    if (!done) done = step().isEmpty // fixpoint exactly at maxIter
    require(done, s"insertionSearchSpaceNodes did not converge in $maxIter " +
      "iterations (graph deeper than maxIter) — raise maxIter")
    // `space` is eagerly localCheckpointed every iteration, so by here it
    // is materialized and independent of these cached intermediates —
    // dropping them is free and keeps repeated calls from accumulating
    // dead blocks in executor storage (persist() is cache-manager-owned,
    // never GC-reclaimed, unlike the loop's RDD localCheckpoints)
    closure.unpersist(); baseR.unpersist(); allowed.unpersist(); e.unpersist()
    space
  }

  /** Min-id union-find over an edge array — the driver-regime twin of the
    * distributed fixpoint below (one implementation, shared with the
    * pipeline's canonicalize). Returns node → min-id-of-component for every
    * node whose root differs from itself. */
  private[graft] def unionFindMinId(pairs: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      // path compression: without it, min-id unions build chains whose
      // depth tracks the pair order (a descending-sorted dup cluster is
      // a depth-n chain) and the closing find-per-key pass goes O(p²) —
      // compression keeps every find amortized near-constant and does
      // not change any root
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => k -> find(k)).filter { case (a, b) => a != b }.toMap
  }

  /** Connected components over an undirected edge set `(a, b)`: min-label
    * propagation with pointer-jumping contraction each round (the
    * hash-to-min scheme — converges in O(log n) rounds on chains, no
    * GraphFrames/RDD dependency; SURVEY.md §4.3). Returns (node, component)
    * with component = min node id of the component.
    *
    * Regime switch (the pipeline-canonicalize pattern, BENCH §9 round 5:
    * profiling caught the distributed fixpoint paying ~100 s of job
    * overhead on a handful of pairs): an edge set whose EXACT measured
    * count is within `driverPairLimit` is collected (≤ ~16 MB at the 1M
    * default) and solved with the shared union-find — identical output by
    * the equivalence test — while larger graphs run the distributed
    * fixpoint. Pass `driverPairLimit = 0` to force the distributed path
    * (the pipeline does, after its own dispatch).
    *
    * Distributed round structure (each round strictly lowers some label or
    * the algorithm has converged): one edge-propagation (the only
    * aggregation shuffle when the label table is broadcast-hinted)
    * followed by TWO pointer-jumping contractions — comp ←
    * comp(comp(comp(n))) — which roughly squares the contraction rate per
    * round versus a single jump for one extra (usually broadcast) join,
    * halving the round count on long chains. Convergence is detected from
    * the label sum: labels are NON-INCREASING under both propagation and
    * jumping, so sum(comp) is strictly monotone decreasing until the
    * fixpoint and an unchanged sum proves an unchanged labeling — one
    * cheap aggregation on the already-checkpointed result instead of a
    * join against the previous round's labels (the sum is exact:
    * decimal(38,0) cannot overflow at any feasible node count × id
    * range). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          driverPairLimit: Long = 1000000L): DataFrame =
    connectedComponentsCounted(pairs, maxIter, driverPairLimit)._1

  /** [[connectedComponents]] plus the exact label-row count (for the
    * caller's own adaptive broadcast decision). */
  private def connectedComponentsCounted(pairs: DataFrame, maxIter: Int,
                                         driverPairLimit: Long): (DataFrame, Long) = {
    val spark = pairs.sparkSession
    val p = pairs.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .localCheckpoint(true)
    val nPairs = p.count()
    if (driverPairLimit > 0 && nPairs <= driverPairLimit) {
      import spark.implicits._
      val arr = p.as[(Long, Long)].collect()
      val roots = unionFindMinId(arr)
      val out = arr.iterator.flatMap(t => Iterator(t._1, t._2)).toArray.distinct
        .map(n => (n, roots.getOrElse(n, n)))
      (spark.createDataFrame(out.toSeq).toDF("node", "component"), out.length.toLong)
    } else {
      val sym = p
        .union(p.select(col("b").as("a"), col("a").as("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      var labels = sym.groupBy(col("a").as("node"))
        .agg(least(min(col("b")), col("a")).as("comp"))
        .localCheckpoint(true)
      val nLabels = labels.count()
      def labelSum(df: DataFrame): BigDecimal = {
        val r = df.agg(sum(col("comp").cast("decimal(38,0)")).as("s")).head()
        BigDecimal(r.getDecimal(0))
      }
      var prevSum = labelSum(labels)
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        // propagate the min label across edges (the round's one aggregation)
        val viaEdges = sym.as("e")
          .join(hinted(labels, nLabels).as("l"), col("e.b") === col("l.node"))
          .groupBy(col("e.a").as("node")).agg(min(col("l.comp")).as("nbrComp"))
        val prop = labels.join(hinted(viaEdges, nLabels), Seq("node"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"))
        // pointer jumping: comp(n) <- comp(comp(n)), applied twice per round
        def jump(d: DataFrame): DataFrame = d.as("p")
          .join(hinted(d.select(col("node").as("cnode"), col("comp").as("ccomp")), nLabels).as("q"),
            col("p.comp") === col("q.cnode"), "left")
          .select(col("p.node").as("node"),
            least(col("p.comp"), coalesce(col("q.ccomp"), col("p.comp"))).as("comp"))
        val jumped = jump(jump(prop)).localCheckpoint(true)
        val s = labelSum(jumped)
        converged = s == prevSum // monotone: equal sum ⇔ no label moved ⇔ fixpoint
        prevSum = s
        labels = jumped
        i += 1
      }
      sym.unpersist()
      require(converged, s"connectedComponents did not converge in $maxIter " +
        "pointer-jumping rounds — raise maxIter (silently-partial components " +
        "would merge wrong canonicalization clusters)")
      (labels.select(col("node"), col("comp").as("component")), nLabels)
    }
  }

  /** Components including isolated nodes: every node maps to min(reachable). */
  def componentsWithIsolated(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val (cc, nCc) = connectedComponentsCounted(pairs, 25, 1000000L)
    nodes.select(col("id").cast("long").as("node"))
      .join(hinted(cc, nCc), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }
}
