package graft

import graft.pipeline.KgPipeline
import graft.streaming.StreamingOps
import graft.webtext.WebtextGen
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Structured-streaming twins driven synchronously by parquet batches. */
class StreamingSpec extends SparkSpecBase {

  test("streaming mention counts equal the batch extraction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_in").toString
    val web = WebtextGen.generate(spark, 300, 4)
      .select(col("url"), graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))
    web.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingOps.streamingMentions(spark, dir, schema, "mentions_test")
    assert(q.awaitTermination(120000), "stream did not drain")
    val streamed = spark.sql("SELECT mention, count FROM mentions_test")
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(web, "text", 1L)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("append-mode watermarked mention counts equal the batch extraction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_in_app").toString
    val web = WebtextGen.generate(spark, 300, 4)
      .select(monotonically_increasing_id().as("doc_id"),
        graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))
    web.write.mode("overwrite").parquet(dir)
    val sentinelDir = Files.createTempDirectory("stream_sentinel").toString
    Seq((-1L, "")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(sentinelDir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingOps.streamingMentionsAppend(spark, dir, schema,
      sentinelDir, spark.read.parquet(sentinelDir).schema, "mentions_append_test")
    assert(q.awaitTermination(120000), "stream did not drain")
    val streamed = spark.sql("SELECT mention, freq FROM mentions_append_test")
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(web, "text", 1L)
      .as[(String, Long)].collect().toMap
    // append mode emitted the CLOSED window: counts must equal batch exactly
    assert(streamed == batch)
  }

  test("one-directory append variant equals the batch extraction (q31 staging shape)") {
    import spark.implicits._
    // corpus + sentinel staged in ONE directory, read by a single file
    // source — the q31 staging shape; must equal the batch oracle exactly
    // like the two-source variant above
    val dir = Files.createTempDirectory("stream_onedir").toString
    val web = WebtextGen.generate(spark, 300, 4)
      .select(monotonically_increasing_id().as("doc_id"),
        graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))
    web.write.mode("overwrite").parquet(dir)
    Seq((-1L, "")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingOps.streamingMentionsAppendOneDir(spark, dir, schema,
      "mentions_onedir_test")
    assert(q.awaitTermination(120000), "stream did not drain")
    val streamed = spark.sql("SELECT mention, freq FROM mentions_onedir_test")
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(web, "text", 1L)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("parquet file sink: incremental batches + mid-stream restarts match the batch oracle") {
    import spark.implicits._
    val docsDir = Files.createTempDirectory("psink_in").toString
    val outDir = Files.createTempDirectory("psink_out").toString + "/out"
    val ckptDir = Files.createTempDirectory("psink_ckpt").toString
    val sentinelDir = Files.createTempDirectory("psink_sentinel").toString
    val web = WebtextGen.generate(spark, 300, 4)
      .select(monotonically_increasing_id().as("doc_id"),
        graft.extract.HtmlExtract.extractBinary(col("html")).as("text"))
      .persist()
    val docsSchema = web.schema
    val sentinelSchema = web.schema
    def drain(): Unit = {
      val q = StreamingOps.streamingMentionsToParquet(spark, docsDir, docsSchema,
        sentinelDir, sentinelSchema, outDir, ckptDir)
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    // three incremental arrival batches, the query RESTARTED (same
    // checkpoint) between each — file-source offsets, watermark, and agg
    // state all resume from the checkpoint
    for (b <- 0 until 3) {
      web.filter(pmod(col("doc_id"), lit(3)) === b)
        .coalesce(1).write.mode("append").parquet(docsDir)
      drain()
    }
    // no-new-data restart: must be a no-op (exactly-once), not a re-emit
    drain()
    // sentinel arrives → watermark passes the corpus window → final flush
    Seq((-1L, "")).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(sentinelDir)
    drain()
    val streamed = spark.read.parquet(outDir)
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(web, "text", 1L)
      .as[(String, Long)].collect().toMap
    web.unpersist()
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("q31 streams a single-file parquet table via symlink dir (driver shape)") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q31_streaming_mentions")(spark, d)
      .as[(String, Long)].collect().toMap
    val batch = KgPipeline.extractMentions(
        spark.read.parquet(s"$d/documents.parquet"), "text", 3L)
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stateful flatMapGroupsWithState sessionization equals the batch twin") {
    import spark.implicits._
    val dir = Files.createTempDirectory("stream_sess").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"))
    // sentinel: far-future event advances the watermark so every open
    // session times out and flushes in the final no-data batch
    val sentinel = events.limit(1).select(
      lit(-1L).as("event_id"),
      (col("ts") + expr("INTERVAL 365 DAYS")).as("ts"),
      lit(-1L).as("user_id"))
    events.union(sentinel).coalesce(1).write.mode("overwrite").parquet(dir)
    val q = StreamingOps.streamingSessions(spark, dir,
      spark.read.parquet(dir).schema, "sess_stream_test")
    assert(q.awaitTermination(120000), "stream did not drain")
    val streamed = spark.table("sess_stream_test")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_seq", "n_events", "session_start", "session_end")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    val batch = graft.ops.EventOps.sessionize(events)
      .select(col("user_id").cast("long"), col("session_seq").cast("long"),
        col("n_events").cast("long"), col("session_start"), col("session_end"))
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("sessions parquet sink: mid-stream restart resumes open-session state exactly") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("sess_sink_in").toString
    val outDir = Files.createTempDirectory("sess_sink_out").toString + "/out"
    val ckpt = Files.createTempDirectory("sess_sink_ck").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id")).persist()
    // split the feed at its temporal midpoint: sessions spanning the cut
    // are left OPEN in the checkpointed GroupState by drain 1 and must be
    // continued (or closed) correctly by drain 2 after a full query restart
    val (tMin, tMax) = events.agg(min("ts"), max("ts"))
      .as[(java.sql.Timestamp, java.sql.Timestamp)].head()
    val cut = new java.sql.Timestamp((tMin.getTime + tMax.getTime) / 2)
    def drain(): Unit = {
      val q = StreamingOps.streamingSessionsToParquet(spark, inDir,
        events.schema, outDir, ckpt)
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    events.filter(col("ts") < lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    drain()
    events.filter(col("ts") >= lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    drain()
    drain() // no-new-data restart: exactly-once, no re-emit
    // sentinel advances the watermark a year: every open session times out
    val flushTs = new java.sql.Timestamp(tMax.getTime + 365L * 86400 * 1000)
    Seq((-1L, flushTs, -1L)).toDF("event_id", "ts", "user_id")
      .select(events.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      .coalesce(1).write.mode("append").parquet(inDir)
    drain()
    val streamed = spark.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      .select("user_id", "session_seq", "n_events", "session_start", "session_end")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    val batch = graft.ops.EventOps.sessionize(events)
      .select(col("user_id").cast("long"), col("session_seq").cast("long"),
        col("n_events").cast("long"), col("session_start"), col("session_end"))
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)].collect().toSet
    events.unpersist()
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("session tombstones are reclaimed after the TTL (bounded state store)") {
    import graft.streaming.StreamingOps
    import spark.implicits._
    val inDir = Files.createTempDirectory("sess_ttl_in").toString
    val outDir = Files.createTempDirectory("sess_ttl_out").toString + "/out"
    val ckpt = Files.createTempDirectory("sess_ttl_ck").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(hours: Double) = new java.sql.Timestamp(t0.getTime + (hours * 3600 * 1000).toLong)
    def write(rows: Seq[(Long, java.sql.Timestamp, Long)]): Unit =
      rows.toDF("event_id", "ts", "user_id").coalesce(1).write.mode("append").parquet(inDir)
    write(Seq((1L, t0, 7L)))
    val schema = spark.read.parquet(inDir).schema
    val dayMicros = 24L * 3600 * 1000000L
    def drain(): Unit = {
      val q = StreamingOps.streamingSessionsToParquet(spark, inDir, schema, outDir, ckpt,
        gapMinutes = 30, tombstoneTtlMicros = dayMicros)
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    drain()
    write(Seq((-1L, at(2), -1L))) // watermark past gap: session 1 closes, tombstone set
    drain()
    write(Seq((-2L, at(24 * 10), -2L))) // watermark past tombstone TTL: state reclaimed
    drain()
    write(Seq((2L, at(24 * 20), 7L))) // user 7 returns AFTER the TTL horizon
    write(Seq((-3L, at(24 * 40), -3L))) // flush
    drain()
    val seqs = spark.read.parquet(outDir).filter(col("user_id") === 7L)
      .orderBy("session_start").select("session_seq").as[Long].collect().toSeq
    // the documented TTL tradeoff: numbering restarts at 1 after the
    // tombstone is reclaimed (an unreclaimed tombstone would yield seq 2 —
    // and an unbounded state store)
    assert(seqs == Seq(1L, 1L), s"got $seqs")
  }

  test("streaming hourly event agg produces windows under watermark") {
    // readStream needs a directory, not a single parquet file
    val dir = Files.createTempDirectory("stream_ev").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val q = StreamingOps.streamingEventAgg(spark, dir, schema, "eventagg_test")
    assert(q.awaitTermination(120000), "stream did not drain")
    // append-mode with watermark emits only closed windows; on a finite
    // batch the final window stays open — check the intermediate state too
    val n = spark.sql("SELECT count(*) FROM eventagg_test").head.getLong(0)
    assert(n >= 0) // query ran to completion without error
  }
}
