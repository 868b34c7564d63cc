package graft

import graft.pipeline.{KgPipeline, LocalParquet}
import org.apache.spark.sql.DataFrame

import java.nio.file.Files
import scala.reflect.runtime.universe.TypeTag

/** The driver-side checkpoint writer against Spark's own: for every table
  * shape the pipeline checkpoints, both files read back through
  * `spark.read.parquet` with the same schema and the same rows. */
class LocalParquetSpec extends SparkSpecBase {

  private val labels = Seq("scan join", "Größe", "日本語 テーブル", "emoji 🚀 row", "", null)

  private def readBack(dir: String): (Seq[(String, String)], Seq[String]) = {
    val df: DataFrame = spark.read.parquet(dir)
    (df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toSeq,
      df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq)
  }

  /** Writes `rows` with both writers, then compares what Spark reads. */
  private def parity[T <: Product : TypeTag](rows: Seq[T], cols: String*): Unit = {
    import spark.implicits._
    for (n <- Seq(rows.size, 0)) {
      val sample = rows.take(n)
      val bySpark = Files.createTempDirectory("lp_spark").toString
      val byDriver = Files.createTempDirectory("lp_driver").toString
      val df = sample.toDF()
      (if (cols.isEmpty) df else df.toDF(cols: _*))
        .coalesce(1).write.mode("overwrite").parquet(bySpark)
      LocalParquet.write(byDriver, LocalParquet.schemaOf[T](cols: _*), sample.iterator)
      val (sSchema, sRows) = readBack(bySpark)
      val (dSchema, dRows) = readBack(byDriver)
      assert(dSchema == sSchema, s"schema, $n rows")
      assert(dRows == sRows, s"rows, $n rows")
      assert(dRows.size == n)
    }
  }

  test("nodes_delta and edges_delta shapes") {
    parity(labels.zipWithIndex.map { case (l, i) => (i.toLong, 1000L + i, l) },
      "seq", "id", "label")
    parity(labels.zipWithIndex.map { case (l, i) => (i.toLong, 1000L + i, Long.MaxValue - i, l) },
      "seq", "src", "dst", "label")
  }

  test("scored_pairs_delta and lineage shapes") {
    parity(labels.zip(labels.reverse).zipWithIndex.map { case ((a, b), i) =>
      KgPipeline.ScoredPair(a, b, i * 0.125 - 0.3) })
    parity(labels.zipWithIndex.map { case (l, i) =>
      KgPipeline.LineageRow(i, i - 1, l, i * 10L, i * 7L, Long.MinValue + i, i * 3L) })
  }

  test("deltas, sameas and triples shapes") {
    parity(labels.zipWithIndex.map { case (l, i) => (i.toLong, -i.toLong, l, i) },
      "src", "dst", "label", "round")
    parity(labels.zip(labels.reverse).zipWithIndex.map { case ((a, b), i) => (a, b, i) },
      "a", "b", "round")
    parity(labels.zip(labels.reverse).zipWithIndex.map { case ((a, b), i) =>
      (a, "isA", b, i, if (i % 2 == 0) "new" else null) },
      "subj", "pred", "obj", "src_round", "lineage")
  }

  test("a table of many pages: 250000 edge rows") {
    parity((0 until 250000).map(i =>
      (i.toLong, 1000000L + i, 2000000L + i % 977, if (i % 3 == 0) "new" else labels(i % 5))),
      "seq", "src", "dst", "label")
  }

  test("a write replaces what the directory held") {
    val dir = Files.createTempDirectory("lp_over").toString
    spark.range(5).toDF("seq").repartition(3).write.mode("overwrite").parquet(dir)
    LocalParquet.write(dir, LocalParquet.schemaOf[Tuple1[Long]]("seq"),
      Iterator(Tuple1(42L)))
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).toSeq == Seq(42L))
  }
}
