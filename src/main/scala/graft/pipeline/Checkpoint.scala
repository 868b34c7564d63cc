package graft.pipeline

import graft.pipeline.KgPipeline.{LineageRow, ScoredPair}
import graft.taxo.MutableTaxo
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructType}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The checkpoint layout of [[KgPipeline.run]]: one dir per round,
  * `round=r`, made durable by a `COMMIT` marker written last; a run resumes
  * after its last complete round. A round dir holds the round's additive
  * deltas (rounds only add: merges remove same-round mints) — `nodes_delta`
  * (seq, id, label) and `edges_delta` (seq, src, dst, label), `seq` being
  * the insertion order; `scored_pairs_delta`, one part per decide chunk;
  * `emb_delta` (vec_id, embedding) once the run keeps an embedding store —
  * plus `lineage`, the cumulative provenance `deltas` and `sameas`,
  * `meta.txt` (the id allocator) and `center.txt` (the decide index's RHP
  * center, if any). Every `compactEvery` rounds it also holds full
  * snapshots `nodes`, `edges` (the deltas' schema) and `scored_pairs`, and
  * `embeddings` (in place of `emb_delta`, also on the round that builds
  * the store). The taxonomy and both stores share one rule ([[chain]]),
  * and resume and the live run read the stores through the same code.
  * Driver-built tables are written by [[LocalParquet]]; Spark writes only
  * the `scored_pairs` compaction and the embedding store. A checkpoint in
  * another layout fails on load, before any round work. */
private[pipeline] object Checkpoint {

  /** Table schemas, also read schemas: a read given its schema skips the
    * inference job of a bare `spark.read.parquet`. */
  private val ScoredPairRows = LocalParquet.schemaOf[ScoredPair]()
  private val NodeRows = LocalParquet.schemaOf[(Long, Long, String)]("seq", "id", "label")
  private val EdgeRows = LocalParquet.schemaOf[(Long, Long, Long, String)]("seq", "src", "dst", "label")
  private val DeltaRows = LocalParquet.schemaOf[(Long, Long, String, Int)]("src", "dst", "label", "round")
  private val SameAsRows = LocalParquet.schemaOf[(String, String, Int)]("a", "b", "round")
  private val EmbeddingRows = new StructType().add("vec_id", LongType)
    .add("embedding", ArrayType(FloatType))

  private def roundDir(ckpt: String, r: Int): String = s"$ckpt/round=$r"
  private def marker(ckpt: String, r: Int) = Paths.get(roundDir(ckpt, r), "COMMIT")

  /** The last complete round of a checkpoint dir (the resume point). */
  def lastCompleteRound(ckpt: String): Int = {
    var r = 0
    while (Files.exists(marker(ckpt, r + 1))) r += 1
    r
  }

  /** Run state as of a round's COMMIT (round 0: the seed). `scored` and
    * `embeddings` are parquet-backed; `embeddings` is null until a round
    * builds the store. */
  final case class State(taxo: MutableTaxo, nextKey: Long,
                         deltas: Seq[(Long, Long, String, Int)], sameAs: Seq[(String, String, Int)],
                         center: Option[(Int, Array[Double])], scored: DataFrame,
                         embeddings: DataFrame)

  /** What a round adds to the checkpoint besides its scored-pairs parts. */
  final case class RoundTables(nodes: Seq[(Long, String)], edges: Seq[(Long, Long, String)],
                               lineage: Seq[LineageRow], deltas: Seq[(Long, Long, String, Int)],
                               sameAs: Seq[(String, String, Int)], nextKey: Long,
                               center: Option[(Int, Array[Double])])

  private def layoutError(dir: String, missing: String) =
    new IllegalStateException(s"checkpoint $dir has no $missing, which its layout " +
      "requires: it was written in another checkpoint layout. Start a fresh checkpoint dir.")

  private def required(dir: String, name: String): String = {
    if (!Files.exists(Paths.get(dir, name))) throw layoutError(dir, name)
    s"$dir/$name"
  }

  /** The latest round at or before `upTo` holding the full snapshot
    * `full` (0: none). */
  private def baseRound(ckpt: String, upTo: Int, full: String): Int =
    (upTo to 1 by -1).find(i => Files.exists(Paths.get(roundDir(ckpt, i), full))).getOrElse(0)

  /** The base-plus-deltas rule: the dirs holding a store as of round
    * `upTo`, oldest first — its full snapshot `full` at round `base` (none
    * for base 0: the store starts from the seed), then the `delta` of every
    * later round. */
  private def chain(ckpt: String, base: Int, upTo: Int, full: String, delta: String): Seq[String] =
    (if (base > 0) Seq(required(roundDir(ckpt, base), full)) else Nil) ++
      ((base + 1) to upTo).map(i => required(roundDir(ckpt, i), delta))

  private def read(spark: SparkSession, schema: StructType, dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(dirs: _*)

  /** The scored-pairs store as of round `upTo`. */
  private def scoredStore(spark: SparkSession, ckpt: String, upTo: Int): DataFrame =
    read(spark, ScoredPairRows, chain(ckpt, baseRound(ckpt, upTo, "scored_pairs"), upTo,
      "scored_pairs", "scored_pairs_delta"))

  /** The scored-pairs and embedding stores as of round `upTo`. The
    * embedding store exists (is not null) from the round that builds it. */
  private def stores(spark: SparkSession, ckpt: String, upTo: Int): (DataFrame, DataFrame) = {
    val base = baseRound(ckpt, upTo, "embeddings")
    (scoredStore(spark, ckpt, upTo),
      if (base == 0) null
      else read(spark, EmbeddingRows, chain(ckpt, base, upTo, "embeddings", "emb_delta")))
  }

  /** The run state as of the last complete round of `ckpt`. Every table
    * the layout requires is checked before anything is read. */
  def load(spark: SparkSession, ckpt: String): State = {
    import spark.implicits._
    val r = lastCompleteRound(ckpt)
    val rd = roundDir(ckpt, r)
    val base = baseRound(ckpt, r, "nodes")
    val nodeDirs = chain(ckpt, base, r, "nodes", "nodes_delta")
    val edgeDirs = chain(ckpt, base, r, "edges", "edges_delta")
    for ((dirs, schema) <- Seq(nodeDirs -> NodeRows, edgeDirs -> EdgeRows); d <- dirs;
         c <- schema.fieldNames.diff(LocalParquet.columns(d)))
      throw layoutError(d, s"column $c")
    val (scored, embeddings) = stores(spark, ckpt, r)
    if (r > 0) Seq("meta.txt", "deltas", "sameas").foreach(required(rd, _))
    // replay in `seq` order within each table, tables oldest first: the
    // LinkedHashMaps get the live run's exact insertion order (adjacency
    // iteration order is decision-relevant, MutableTaxo scaladoc)
    val taxo = if (base > 0) new MutableTaxo else KgPipeline.seedTaxo()
    for (d <- nodeDirs)
      read(spark, NodeRows, Seq(d)).as[(Long, Long, String)].collect().sortBy(_._1)
        .foreach { case (_, id, l) => taxo.addNode(id, Some(l)) }
    for (d <- edgeDirs)
      read(spark, EdgeRows, Seq(d)).as[(Long, Long, Long, String)].collect().sortBy(_._1)
        .foreach { case (_, u, v, l) => taxo.addEdge(u, v, l) }
    if (r == 0) State(taxo, taxo.nodes.max + 1, Nil, Nil, None, scored, embeddings)
    else {
      val center = Some(Paths.get(rd, "center.txt")).filter(Files.exists(_)).map { f =>
        val lines = Files.readAllLines(f).asScala
        (lines.head.toInt, lines.tail.map(_.toDouble).toArray)
      }
      // the persisted allocator, not max(id)+1: a merged-away max id must
      // not be reused (the live run's counter is monotonic across merges)
      State(taxo,
        new String(Files.readAllBytes(Paths.get(rd, "meta.txt")), "UTF-8").trim.toLong,
        read(spark, DeltaRows, Seq(s"$rd/deltas")).as[(Long, Long, String, Int)].collect()
          .sortBy(d => (d._4, d._1, d._2)).toSeq,
        read(spark, SameAsRows, Seq(s"$rd/sameas")).as[(String, String, Int)].collect()
          .sortBy(s => (s._3, s._1, s._2)).toSeq,
        center, scored, embeddings)
    }
  }

  /** Opens round `r`: it has no COMMIT marker, so whatever its directory
    * holds was left by a killed run. */
  def startRound(ckpt: String, r: Int): Unit =
    LocalParquet.deleteTree(Paths.get(roundDir(ckpt, r)))

  /** Part `part` of round `r`'s `scored_pairs_delta` (part 0 clears it). */
  def writeScored(ckpt: String, r: Int, part: Int, pairs: Iterator[ScoredPair]): Unit =
    LocalParquet.write(s"${roundDir(ckpt, r)}/scored_pairs_delta", ScoredPairRows, pairs, part)

  /** Writes round `r`'s tables, after its `scored_pairs_delta`, and its
    * COMMIT marker last; returns the scored-pairs and embedding stores as
    * of `r`. A compaction round also writes the full snapshots. With an
    * embedding store, `emb` is (the live store, the round's survivors,
    * whether the live store is new this round). */
  def commit(spark: SparkSession, ckpt: String, r: Int, compact: Boolean, taxo: MutableTaxo,
             t: RoundTables, emb: Option[(DataFrame, DataFrame, Boolean)]): (DataFrame, DataFrame) = {
    val rd = roundDir(ckpt, r)
    // taxonomy tables are built on the driver and written by it at any
    // size, no Spark job: a Spark write of a local Seq copies it into a
    // LocalRelation and pays job launch + output committer per table
    // (2M-row edge table, local[4]: Spark 6.8-14.3 s, this writer 0.6-1.6 s)
    def writeTaxo(nodesDir: String, nodes: Iterator[(Long, String)],
                  edgesDir: String, edges: Iterator[(Long, Long, String)]): Unit = {
      LocalParquet.write(nodesDir, NodeRows,
        nodes.zipWithIndex.map { case ((id, l), k) => (k.toLong, id, l) })
      LocalParquet.write(edgesDir, EdgeRows,
        edges.zipWithIndex.map { case ((u, v, l), k) => (k.toLong, u, v, l) })
    }
    writeTaxo(s"$rd/nodes_delta", t.nodes.iterator, s"$rd/edges_delta", t.edges.iterator)
    if (compact) {
      writeTaxo(s"$rd/nodes", taxo.nodes.iterator.map(n => (n, taxo.getLabel(n))),
        s"$rd/edges", taxo.edges.iterator)
      // the store as of r (its deltas include r's) becomes r's snapshot
      scoredStore(spark, ckpt, r).write.mode(SaveMode.Overwrite).parquet(s"$rd/scored_pairs")
    }
    for ((store, survivors, fresh) <- emb) {
      if (fresh || compact)
        store.union(survivors).write.mode(SaveMode.Overwrite).parquet(s"$rd/embeddings")
      else (if (t.nodes.size <= KgPipeline.DriverRows) survivors.coalesce(1) else survivors)
        .write.mode(SaveMode.Overwrite).parquet(s"$rd/emb_delta")
    }
    LocalParquet.writeRows(s"$rd/lineage", t.lineage)
    LocalParquet.writeRows(s"$rd/deltas", t.deltas, DeltaRows.fieldNames.toSeq: _*)
    LocalParquet.writeRows(s"$rd/sameas", t.sameAs, SameAsRows.fieldNames.toSeq: _*)
    for ((n, c) <- t.center)
      Files.write(Paths.get(rd, "center.txt"),
        (n.toString +: c.map(_.toString).toSeq).mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(rd, "meta.txt"), t.nextKey.toString.getBytes("UTF-8"))
    Files.write(marker(ckpt, r), Array.emptyByteArray)
    stores(spark, ckpt, r)
  }

  /** The move round's decisions (seq, target, winners, oldParents) if they
    * were committed under `stamp`. */
  def moveDecisions(spark: SparkSession, ckpt: String,
                    stamp: String): Option[Seq[(Long, Seq[Long], Seq[Long])]] = {
    import spark.implicits._
    val m = Paths.get(ckpt, "move", "COMMIT")
    if (!Files.exists(m) || new String(Files.readAllBytes(m), "UTF-8").trim != stamp) None
    else Some(spark.read.parquet(s"$ckpt/move/decisions")
      .select("seq", "target", "winners", "oldParents")
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().sortBy(_._1)
      .map(d => (d._2, d._3, d._4)).toSeq)
  }

  def commitMove(spark: SparkSession, ckpt: String, stamp: String,
                 ds: Seq[(Long, Seq[Long], Seq[Long])]): Unit = {
    import spark.implicits._
    Files.createDirectories(Paths.get(ckpt, "move"))
    ds.zipWithIndex.map { case ((t, w, o), k) => (k.toLong, t, w, o) }
      .toDF("seq", "target", "winners", "oldParents")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$ckpt/move/decisions")
    Files.write(Paths.get(ckpt, "move", "COMMIT"), stamp.getBytes("UTF-8"))
  }
}
