package graft

import graft.lake.LakeTable
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{SessionEvent, SessionUpdate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("file stream → lake sink: ingests drops, idempotent on batch replay") {
    val root = Files.createTempDirectory("graft-stream")
    val in = root.resolve("in"); Files.createDirectories(in)
    val lakeDir = root.resolve("lake")
    val ckpt = root.resolve("ckpt").toString

    val schema = spark.range(0).select($"id", lit("x").as("v")).schema
    spark.range(0, 5).select($"id", lit("a").as("v")).coalesce(1)
      .write.mode("overwrite").parquet(root.resolve("stage1").toString)
    copyParts(root.resolve("stage1"), in, "d1")

    val q = EventStreams.toLake(
      EventStreams.fileStream(spark, in.toString, schema), lakeDir, ckpt)
    q.processAllAvailable()

    val lake = new LakeTable(spark, lakeDir)
    assert(lake.read().count() == 5)

    spark.range(5, 12).select($"id", lit("b").as("v")).coalesce(1)
      .write.mode("overwrite").parquet(root.resolve("stage2").toString)
    copyParts(root.resolve("stage2"), in, "d2")
    q.processAllAvailable()
    q.stop()
    assert(lake.read().count() == 12)

    // idempotence: replaying an already-committed batch id is a no-op
    val before = lake.version
    EventStreams.appendBatchIdempotent(
      spark.range(100, 103).select($"id", lit("z").as("v")).toDF(), lakeDir, 0L)
    assert(lake.version == before && lake.read().count() == 12)
    // a NEW batch id still lands
    EventStreams.appendBatchIdempotent(
      spark.range(100, 103).select($"id", lit("z").as("v")).toDF(), lakeDir, 99L)
    assert(lake.read().count() == 15)
  }

  test("lake sink: a replayed batch is skipped past an unstamped commit; the next batch lands") {
    val lakeDir = Files.createTempDirectory("graft-stream-stamp").resolve("lake")
    def rows(lo: Long) = spark.range(lo, lo + 3).select($"id", lit("s").as("v")).toDF()
    EventStreams.appendBatchIdempotent(rows(0), lakeDir, 0L)
    EventStreams.appendBatchIdempotent(rows(10), lakeDir, 1L)
    val lake = new LakeTable(spark, lakeDir)
    // an OPTIMIZE commit carries no batch stamp and is now the newest
    val stamped = lake.version
    assert(lake.compact() > 0 && lake.version == stamped + 1)
    assert(!lake.historyInfo.head.operationParameters.contains("streamBatchId"))
    val before = lake.version
    EventStreams.appendBatchIdempotent(rows(20), lakeDir, 1L)
    assert(lake.version == before && lake.read().count() == 6)
    EventStreams.appendBatchIdempotent(rows(30), lakeDir, 2L)
    assert(lake.version == before + 1 && lake.read().count() == 9)
  }

  test("lake streaming SOURCE: tails the log, initial snapshot + incremental appends, resumes from checkpoint") {
    val root = Files.createTempDirectory("graft-stream-src")
    val lakeDir = root.resolve("src_lake")
    val mirrorDir = root.resolve("mirror_lake")
    val ckpt = root.resolve("ckpt").toString
    val lake = new LakeTable(spark, lakeDir)
    val mirror = new LakeTable(spark, mirrorDir)
    lake.write(spark.range(0, 4).select($"id", lit("a").as("v")).toDF(), mode = "append")

    // source AND sink are lake tables: the tail of one table feeds
    // another, exactly-once via the sink's recorded batch ids
    def startStream() = spark.readStream.format("graft").load(lakeDir.toString)
      .writeStream.format("graft")
      .option("path", mirrorDir.toString)
      .option("checkpointLocation", ckpt).start()

    val q = startStream()
    q.processAllAvailable()
    // batch 0 = the current snapshot, stamped with its commit version
    assert(mirror.read().count() == 4)
    assert(mirror.read().select("_commit_version")
      .as[Long].collect().toSet == Set(0L))

    // appends arrive incrementally with their own commit versions
    lake.write(spark.range(4, 7).select($"id", lit("b").as("v")).toDF(), mode = "append")
    q.processAllAvailable()
    assert(mirror.read().count() == 7)
    assert(mirror.read().select("_commit_version")
      .as[Long].collect().toSet == Set(0L, 1L))

    // compaction is dataChange=false: invisible to the tail
    lake.compact(minFilesPerPartition = 2)
    q.processAllAvailable()
    assert(mirror.read().count() == 7)
    q.stop()

    // restart from the checkpoint: only data committed AFTER the
    // stopped offset is delivered (no snapshot replay)
    lake.write(spark.range(7, 9).select($"id", lit("c").as("v")).toDF(), mode = "append")
    val q2 = startStream()
    q2.processAllAvailable()
    q2.stop()
    assert(mirror.read().count() == 9)
    val resumedIds = mirror.read().where($"_commit_version" >= 3)
      .select("id").as[Long].collect().toSet
    assert(resumedIds == Set(7L, 8L),
      s"expected only the post-restart append in the new versions, got $resumedIds")
  }

  test("lake streaming source rejects a mismatched user schema, accepts an exact one") {
    val root = Files.createTempDirectory("graft-stream-schema")
    val lakeDir = root.resolve("lk")
    new LakeTable(spark, lakeDir)
      .write(spark.range(0, 3).select($"id", lit("a").as("v")).toDF(), mode = "append")
    // a schema that contradicts the log must fail loudly, not be
    // silently discarded for the snapshot schema
    val e = intercept[graft.core.UserException] {
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("wrong",
            org.apache.spark.sql.types.LongType))))
        .format("graft").load(lakeDir.toString)
    }
    assert(e.getMessage.contains("does not match the table schema"))
    // the exact table schema (sans the source-stamped _commit_version)
    // is redundant but legal
    val tableSchema = new LakeTable(spark, lakeDir).read().schema
    val ok = spark.readStream.schema(tableSchema)
      .format("graft").load(lakeDir.toString)
    assert(ok.columns.contains("_commit_version"))
  }

  test("watermarked windowed aggregation over a memory sink") {
    val root = Files.createTempDirectory("graft-stream-w")
    val in = root.resolve("in"); Files.createDirectories(in)
    val ev = Seq(
      ("2024-01-01 00:01:00", "click", 1.0),
      ("2024-01-01 00:02:00", "click", 2.0),
      ("2024-01-01 00:07:00", "view", 5.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    ev.coalesce(1).write.mode("overwrite").parquet(root.resolve("stage").toString)
    copyParts(root.resolve("stage"), in, "d1")

    val stream = EventStreams.fileStream(spark, in.toString, ev.schema)
    val agg = EventStreams.windowedCounts(stream, "ts", "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("win_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("win_out")
      .select($"event_type", $"n_events", $"sum_value")
      .as[(String, Long, Double)].collect().toSet
    assert(out == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }

  test("stateful sessionization tracks gaps across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val sessions = EventStreams.sessionize(mem.toDS(), gapMs = 1000L)
    val q = sessions.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("sess_out").start()

    mem.addData(SessionEvent(1L, 0L, 1.0), SessionEvent(1L, 500L, 2.0))
    q.processAllAvailable()
    mem.addData(SessionEvent(1L, 5000L, 10.0)) // gap > 1s → new session
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sess_out").as[SessionUpdate].collect()
    val last = rows.maxBy(_.session_id)
    assert(last.session_id == 1L && last.n_events == 1L && last.sum_value == 10.0)
    assert(rows.exists(r => r.session_id == 0L && r.n_events == 2L && r.sum_value == 3.0))
  }

  test("streaming sessionization agrees with the batch q17 query on real events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch: sessions per user from the oracle-checked q17 query
    val batchSessions = graft.queries.Queries.queries("q17_sessionize")(spark, dir)
      .groupBy("user_id").agg(max($"session_id").as("n"))
      .as[(Long, Long)].collect().toMap
    // streaming: same events through mapGroupsWithState (single batch)
    val evRaw = spark.read.parquet(s"$dir/events.parquet")
    val evs = evRaw
      .select($"user_id", graft.functions.TimeFunctions.epochMs(evRaw).as("ms"), $"value")
      .as[SessionEvent].collect()
    val mem = MemoryStream[SessionEvent]
    val q = EventStreams.sessionize(mem.toDS(), gapMs = 1800000L)
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
      .format("memory").queryName("sess_batch_cmp").start()
    mem.addData(evs.toSeq: _*)
    q.processAllAvailable(); q.stop()
    val streamSessions = spark.table("sess_batch_cmp").as[SessionUpdate]
      .collect().map(u => u.user_id -> (u.session_id + 1)).toMap
    assert(streamSessions.keySet == batchSessions.keySet)
    streamSessions.foreach { case (u, n) =>
      assert(n == batchSessions(u), s"user $u: stream=$n batch=${batchSessions(u)}")
    }
  }

  test("streaming dedup: duplicate keys across micro-batches emit once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String)] // (event_id, ms, payload)
    val events = mem.toDS()
      .toDF("event_id", "ms", "payload")
      .withColumn("ts", timestamp_millis($"ms"))
    val deduped = EventStreams.dedupStream(events, Seq("event_id"), "ts", "10 minutes")
    val q = deduped.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    val t0 = 1700000000000L
    mem.addData((1L, t0, "a"), (2L, t0 + 1000, "b"), (1L, t0 + 2000, "a-dup"))
    q.processAllAvailable()
    mem.addData((2L, t0 + 3000, "b-dup"), (3L, t0 + 4000, "c"))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L), s"got $ids")
  }

  test("stream-stream interval join: clicks attach to impressions within the bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Long)]   // (ad_id, ms)
    val clicks = MemoryStream[(Long, Long)] // (ad_id, ms)
    val impDf = imps.toDS().toDF("ad_id", "ms")
      .select($"ad_id", timestamp_millis($"ms").as("imp_ts"))
    val clickDf = clicks.toDS().toDF("ad_id", "ms")
      .select($"ad_id", timestamp_millis($"ms").as("click_ts"))
    val joined = EventStreams.joinWithinInterval(
      impDf, clickDf, "ad_id", "imp_ts", "click_ts", "10 minutes", "5 minutes")
    val q = joined.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("ssj_out").start()
    val t0 = 1700000000000L
    imps.addData((1L, t0), (2L, t0))
    clicks.addData(
      (1L, t0 + 60000),   // 1 min later: joins
      (2L, t0 + 600000),  // 10 min later: outside the 5-min bound
      (3L, t0 + 1000))    // no matching impression
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_out").select("ad_id").as[Long].collect().toSeq
    assert(got == Seq(1L), s"got $got")
  }

  test("native session windows agree with the stateful sessionizer's gap logic") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Double)] // (user_id, ms, value)
    val events = mem.toDS().toDF("user_id", "ms", "value")
      .withColumn("ts", timestamp_millis($"ms"))
    val sessions = EventStreams.sessionWindowCounts(
      events, "ts", "user_id", gap = "30 minutes", watermark = "2 hours")
    val q = sessions.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
      .format("memory").queryName("sw_out").start()
    val t0 = 1700000000000L
    val halfHour = 1800000L
    mem.addData(
      (1L, t0, 1.0), (1L, t0 + 60000, 2.0),            // session 1 (user 1)
      (1L, t0 + halfHour + 120000, 4.0),               // gap > 30m → session 2
      (2L, t0, 8.0))                                   // user 2, one session
    q.processAllAvailable(); q.stop()
    val got = spark.table("sw_out")
      .select($"user_id", $"n_events", $"sum_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)), s"got $got")
  }

  test("streaming shard dedup: stores converge to batch dedupCorpus; batch replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{ConnectedComponents, Dedup}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val root = Files.createTempDirectory("graft-streamdedup")
    val sigPath = root.resolve("sigs"); val pairPath = root.resolve("pairs")
    val labelPath = root.resolve("labels"); val outPath = root.resolve("out")

    val mem = MemoryStream[(Long, String)]
    val q = StreamingDedup.dedupedIngest(
      mem.toDF.toDF("doc_id", "text"), sigPath, pairPath, labelPath, outPath,
      root.resolve("ckpt").toString, "doc_id", "text")
    val shards = Seq(
      corpus.where($"doc_id" % 2 === 0),
      corpus.where($"doc_id" % 2 === 1))
    shards.foreach { sh =>
      mem.addData(sh.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // retroactive kept set from the streamed stores == one batch
    // dedupCorpus over the concatenated corpus
    val sig = new LakeTable(spark, sigPath)
    val pair = new LakeTable(spark, pairPath)
    val out = new LakeTable(spark, outPath)
    val streamedKept = ConnectedComponents.labels(
        sig.read().select("id"), "id", pair.read().select("id_a", "id_b"))
      .where($"id" === $"component").select($"id")
      .as[Long].collect().sorted.toSeq
    val batchKept = Dedup.dedupCorpus(corpus, "doc_id", "text", 8, 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamedKept == batchKept)

    // the appended output corpus IS the union of per-arrival survivor
    // sets: after shard k arrives, its docs that are min-id component
    // representatives of the prefix corpus (shards 1..k). Recompute
    // each prefix's kept set with the BATCH dedup and intersect with
    // the shard — exact equality, both directions.
    val outIds = out.read().select("doc_id").as[Long].collect().sorted.toSeq
    val expectedArrival: Set[Long] = shards.indices.flatMap { k =>
      val prefix = shards.take(k + 1).reduce(_ unionByName _)
      val prefixKept = Dedup.dedupCorpus(prefix, "doc_id", "text", 8, 4)
        .select("doc_id").as[Long].collect().toSet
      val shardIds = shards(k).select("doc_id").as[Long].collect().toSet
      prefixKept intersect shardIds
    }.toSet
    assert(outIds.toSet == expectedArrival,
      s"out != union of arrival-time survivors: " +
        s"extra=${outIds.toSet -- expectedArrival} missing=${expectedArrival -- outIds.toSet}")
    // retroactively-kept ⊆ out (min-id reps never lose their component)
    assert(streamedKept.forall(outIds.contains))
    assert(outIds.size < corpus.count()) // something was actually dropped

    // exactly-once: replaying batch 0 through the identical entry
    // point adds NO commits to any store (all four stamps found)
    val label = new LakeTable(spark, labelPath)
    val (vS, vP, vL, vO) = (sig.version, pair.version, label.version, out.version)
    StreamingDedup.ingestBatch(shards(0), 0L, sigPath, pairPath, labelPath, outPath,
      "doc_id", "text", 8, 4)
    assert((sig.version, pair.version, label.version, out.version) == ((vS, vP, vL, vO)))
  }

  test("streaming VERIFIED dedup: closure equals batch dedupCorpusVerified; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingVerifiedDedup
    import graft.operators.{ConnectedComponents, Dedup}
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val root = Files.createTempDirectory("graft-streamverified")
    val sigPath = root.resolve("sigs"); val gramPath = root.resolve("grams")
    val edgePath = root.resolve("edges"); val outPath = root.resolve("out")
    val labelPath = root.resolve("labels")

    val mem = MemoryStream[(Long, String)]
    val q = StreamingVerifiedDedup.dedupedIngest(
      mem.toDF.toDF("doc_id", "text"), sigPath, gramPath, edgePath, labelPath, outPath,
      root.resolve("ckpt").toString, "doc_id", "text", minJaccard = 0.5)
    val shards = Seq(
      corpus.where($"doc_id" % 2 === 0),
      corpus.where($"doc_id" % 2 === 1))
    shards.foreach { sh =>
      mem.addData(sh.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // retroactive kept set off the streamed stores == one batch
    // dedupCorpusVerified over the concatenated corpus
    val sig = new LakeTable(spark, sigPath)
    val edge = new LakeTable(spark, edgePath)
    val out = new LakeTable(spark, outPath)
    val streamedKept = ConnectedComponents.labels(
        sig.read().select("id"), "id", edge.read().select("id_a", "id_b"))
      .where($"id" === $"component").select($"id")
      .as[Long].collect().sorted.toSeq
    val batchKept = Dedup.dedupCorpusVerified(corpus, "doc_id", "text", 8, 4, 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamedKept == batchKept)

    // appended output == union of arrival-time survivor sets under the
    // VERIFIED batch recomputation of each prefix
    val outIds = out.read().select("doc_id").as[Long].collect().sorted.toSeq
    val expectedArrival: Set[Long] = shards.indices.flatMap { k =>
      val prefix = shards.take(k + 1).reduce(_ unionByName _)
      val prefixKept = Dedup.dedupCorpusVerified(prefix, "doc_id", "text", 8, 4, 0.5)
        .select("doc_id").as[Long].collect().toSet
      val shardIds = shards(k).select("doc_id").as[Long].collect().toSet
      prefixKept intersect shardIds
    }.toSet
    assert(outIds.toSet == expectedArrival)
    // verification keeps more than the unverified stream would
    assert(outIds.size >= Dedup.dedupCorpus(corpus, "doc_id", "text", 8, 4).count())

    // exactly-once: replaying batch 0 adds NO commits to any store
    val gram = new LakeTable(spark, gramPath)
    val label = new LakeTable(spark, labelPath)
    val (vS, vG, vE, vL, vO) =
      (sig.version, gram.version, edge.version, label.version, out.version)
    StreamingVerifiedDedup.ingestBatch(shards(0), 0L, sigPath, gramPath,
      edgePath, labelPath, outPath, "doc_id", "text", 8, 4, 0.5)
    assert((sig.version, gram.version, edge.version, label.version, out.version) ==
      ((vS, vG, vE, vL, vO)))
  }

  /** One near-dup sink behind one call shape: `ingest(batch, batchId,
    * root)` drives a batch through the sink's stores under `root`
    * (`sigs`, `edges`, `labels`, `out`, and `grams` for the verified
    * sink); `batchKept` is the batch operator the sink must agree with.
    */
  private final class NearDupSink(
      val name: String,
      val ingest: (org.apache.spark.sql.DataFrame, Long, java.nio.file.Path) => Unit,
      val batchKept: org.apache.spark.sql.DataFrame => Set[Long])

  private lazy val nearDupSinks: Seq[NearDupSink] = {
    import graft.operators.Dedup
    import graft.streaming.{StreamingDedup, StreamingVerifiedDedup}
    def kept(df: org.apache.spark.sql.DataFrame) = df.select("doc_id").as[Long].collect().toSet
    Seq(
      new NearDupSink("unverified",
        (b, id, root) => StreamingDedup.ingestBatch(b, id, root.resolve("sigs"),
          root.resolve("edges"), root.resolve("labels"), root.resolve("out"),
          "doc_id", "text", 8, 4),
        docs => kept(Dedup.dedupCorpus(docs, "doc_id", "text", 8, 4))),
      new NearDupSink("verified",
        (b, id, root) => StreamingVerifiedDedup.ingestBatch(b, id, root.resolve("sigs"),
          root.resolve("grams"), root.resolve("edges"), root.resolve("labels"),
          root.resolve("out"), "doc_id", "text", 8, 4, 0.5),
        docs => kept(Dedup.dedupCorpusVerified(docs, "doc_id", "text", 8, 4, 0.5))))
  }

  private def stampedWith(t: LakeTable, batchId: Long): Seq[Long] =
    t.historyInfo.filter(_.operationParameters.get("streamBatchId").contains(batchId.toString))
      .map(_.version)

  private def fileNames(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet

  test("near-dup sinks keep a NULL-text doc, as the batch dedup does") {
    val text = "one boilerplate paragraph that every mirror page repeats word for word"
    val batch = Seq((1L, text), (2L, text), (3L, null: String)).toDF("doc_id", "text")
    nearDupSinks.foreach { sink =>
      val root = Files.createTempDirectory(s"graft-nulltext-${sink.name}")
      sink.ingest(batch, 0L, root)
      val out = new LakeTable(spark, root.resolve("out")).read()
        .select("doc_id").as[Long].collect().toSet
      assert(out == sink.batchKept(batch) && out == Set(1L, 3L), s"${sink.name}: $out")
    }
  }

  private def sf0001Docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text")

  /** The sink's output contract: the union of arrival-time survivor
    * sets — the batch operator over each prefix of `shards`,
    * intersected with the arriving shard.
    */
  private def arrivalSurvivors(sink: NearDupSink, shards: Seq[org.apache.spark.sql.DataFrame]) =
    shards.indices.flatMap { b =>
      sink.batchKept(shards.take(b + 1).reduce(_ unionByName _)) intersect
        shards(b).select("doc_id").as[Long].collect().toSet
    }.toSet

  private def outputIds(root: java.nio.file.Path): Set[Long] =
    new LakeTable(spark, root.resolve("out")).read().select("doc_id").as[Long].collect().toSet

  test("near-dup sinks: batch 10 reads only its own edge commit, and jobs per batch do not grow with age") {
    val corpus = sf0001Docs
    val shards = (0 until 10).map(i => corpus.where($"doc_id" % 10 === i))
    nearDupSinks.foreach { sink =>
      val root = Files.createTempDirectory(s"graft-tenbatches-${sink.name}")
      val edge = new LakeTable(spark, root.resolve("edges"))
      val label = new LakeTable(spark, root.resolve("labels"))
      val batches = shards.indices.map { b =>
        val before = if (label.exists) label.version else -1L
        val traced = JobTrace.traced(spark)(sink.ingest(shards(b), b.toLong, root))
        (traced, label.historyInfo.filter(c => c.version > before && c.operation == "OPTIMIZE"))
      }
      val Seq(v10) = stampedWith(edge, 9L)
      val own = fileNames(edge.changes(v10 - 1, v10))
      val read10 = batches(9)._1.files intersect fileNames(edge.read())
      assert(own.nonEmpty && read10.nonEmpty && read10.subsetOf(own),
        s"${sink.name}: batch 10 read edge files outside its own commit: ${read10 -- own}")
      // every job of the batch counts but those of a DV-policy OPTIMIZE
      // (materializeDvFiles), which the label merge triggers once a
      // file's deleted share passes graft.dv.maxRatio: store
      // maintenance, named in the message when it ran
      val policy = "materializeDvFiles"
      val perBatch = batches.map { case (t, optimized) =>
        assert(optimized.isEmpty == !t.callSites.exists(_.contains(policy)),
          s"${sink.name}: OPTIMIZE commits $optimized vs $policy jobs")
        t.callSites.count(!_.contains(policy))
      }
      // a batch's jobs depend on what it commits — whether it adds
      // edges, and whether its label merge re-labels stored rows (a DV
      // write) — not on how many batches came before: batches 2–10 that
      // commit alike run the same number of jobs
      val kindOf = (1 until 10).map { b =>
        val Seq(e) = stampedWith(edge, b.toLong)
        val Seq(l) = stampedWith(label, b.toLong)
        val relabels = label.historyInfo.find(_.version == l)
          .flatMap(_.operationParameters.get("numDeletedRows")).exists(_ != "0")
        (b + 1) -> (!edge.changes(e - 1, e).isEmpty, relabels)
      }
      assert(kindOf.groupBy(_._2).values.forall(_.map(b => perBatch(b._1 - 1)).distinct.size == 1),
        s"${sink.name}: jobs per batch $perBatch; (new edges, re-labels) per batch $kindOf; " +
          "DV-policy OPTIMIZE in batches " +
          batches.zipWithIndex.collect { case ((_, o), b) if o.nonEmpty => b + 1 -> o.map(_.version).toList })
      assert(outputIds(root) == arrivalSurvivors(sink, shards), sink.name)
    }
  }

  test("near-dup sinks: a fresh label store over running stores is seeded from their closure") {
    import graft.operators.{ConnectedComponents, IncrementalDedup}
    val corpus = sf0001Docs
    val shards = (0 until 4).map(i => corpus.where($"doc_id" % 4 === i))
    nearDupSinks.foreach { sink =>
      val root = Files.createTempDirectory(s"graft-freshlabels-${sink.name}")
      shards.indices.foreach { b =>
        // from batch 2 on the sink writes to a new, empty label path
        if (b == 2) org.apache.commons.io.FileUtils.deleteDirectory(root.resolve("labels").toFile)
        sink.ingest(shards(b), b.toLong, root)
      }
      assert(outputIds(root) == arrivalSurvivors(sink, shards), sink.name)
      val closure = ConnectedComponents.labels(
          new LakeTable(spark, root.resolve("sigs")).read().select("id"), "id",
          new LakeTable(spark, root.resolve("edges")).read().select("id_a", "id_b"))
        .where($"id" === $"component").select("id").as[Long].collect().toSet
      val labeled = IncrementalDedup.labeledKeptIds(new LakeTable(spark, root.resolve("labels")))
        .as[Long].collect().toSet
      assert(labeled == closure, sink.name)
    }
  }

  test("near-dup sinks: a crash between the label and output commits replays bit-identically") {
    val corpus = sf0001Docs
    val shards = Seq(corpus.where($"doc_id" % 2 === 0), corpus.where($"doc_id" % 2 === 1))
    nearDupSinks.foreach { sink =>
      val root = Files.createTempDirectory(s"graft-labelcrash-${sink.name}")
      shards.indices.foreach(b => sink.ingest(shards(b), b.toLong, root))
      val outPath = root.resolve("out")
      val out = new LakeTable(spark, outPath)
      def rows = out.read().as[(Long, String)].collect().sortBy(_._1).toSeq
      val uncrashed = rows
      // the log a crash right after batch 1's stamped label commit
      // leaves: the output's batch-1 commit cut away
      val Seq(cut) = stampedWith(out, 1L)
      assert(cut == out.version)
      Files.delete(graft.lake.TransactionLog.logDir(outPath).resolve(f"$cut%020d.json"))
      assert(rows.size < uncrashed.size)
      sink.ingest(shards(1), 1L, root)
      assert(rows == uncrashed, sink.name)
      val stores = Files.list(root).iterator().asScala.toSeq
      assert(stores.size == (if (sink.name == "verified") 5 else 4))
      stores.foreach(p => assert(stampedWith(new LakeTable(spark, p), 1L).size == 1, p))
    }
  }

  test("streaming substring dedup: stores converge to batch repeatedSpans; replay is a no-op") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.SubstringDedup
    import graft.streaming.StreamingSubstringDedup
    implicit val sqlCtx = spark.sqlContext
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val root = Files.createTempDirectory("graft-streamspan")
    val sitePath = root.resolve("sites"); val gramPath = root.resolve("grams")
    val outPath = root.resolve("spans")
    val w = 10

    val mem = MemoryStream[(Long, String)]
    val q = StreamingSubstringDedup.spanIngest(
      mem.toDF.toDF("doc_id", "text"), sitePath, gramPath, outPath,
      root.resolve("ckpt").toString, "doc_id", "text", w)
    val shards = Seq(
      corpus.where($"doc_id" % 2 === 0),
      corpus.where($"doc_id" % 2 === 1))
    shards.foreach { sh =>
      mem.addData(sh.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()

    // retroactive spans from the streamed stores == one batch
    // repeatedSpans over the concatenated corpus — exact, both ways
    def canon(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select($"doc_id".cast("long"), $"span_start".cast("long"),
        $"span_end".cast("long")).as[(Long, Long, Long)].collect().sorted.toSeq
    val streamed = canon(StreamingSubstringDedup.retroactiveSpans(
      spark, sitePath, gramPath, "doc_id", w))
    val batch = canon(SubstringDedup.repeatedSpans(corpus, "doc_id", "text", w))
    assert(streamed == batch)
    assert(batch.nonEmpty) // the corpus actually plants repeats

    // per-arrival emission: shard k's spans judged against the prefix
    // corpus (shards 1..k) — recompute each prefix with the BATCH
    // operator, restricted to the shard's docs; exact equality
    val out = new LakeTable(spark, outPath)
    val emitted = canon(out.read())
    val expected = shards.indices.flatMap { k =>
      val prefix = shards.take(k + 1).reduce(_ unionByName _)
      val shardIds = shards(k).select("doc_id").as[Long].collect().toSet
      canon(SubstringDedup.repeatedSpans(prefix, "doc_id", "text", w))
        .filter(s => shardIds.contains(s._1))
    }.sorted
    assert(emitted == expected)

    // the gram store really runs merge-on-read (standing scattered-key
    // upsert must not rewrite the store per shard)
    val gram = new LakeTable(spark, gramPath)
    assert(gram.snapshotNow.metadata.configuration
      .get("graft.merge.mode").contains("merge-on-read"))

    // exactly-once: replaying batch 0 adds NO commits to any store
    val site = new LakeTable(spark, sitePath)
    val (vS, vG, vO) = (site.version, gram.version, out.version)
    StreamingSubstringDedup.ingestBatch(shards(0), 0L, sitePath, gramPath,
      outPath, "doc_id", "text", w)
    assert((site.version, gram.version, out.version) == ((vS, vG, vO)))
  }

  test("substring sink: a replayed batch is a no-op when an unstamped ALTER follows its gram commit") {
    import graft.streaming.StreamingSubstringDedup
    // 40 docs over a 50-word cycle: many shared 10-token windows
    val shard = (0L until 40L).map(i =>
      (i, (0 until 30).map(j => s"w${(i * 7 + j) % 50}").mkString(" ")))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-streamspan-stamp")
    val sitePath = root.resolve("sites"); val gramPath = root.resolve("grams")
    val outPath = root.resolve("spans")
    StreamingSubstringDedup.ingestBatch(shard, 0L, sitePath, gramPath,
      outPath, "doc_id", "text", 10)
    val site = new LakeTable(spark, sitePath)
    val gram = new LakeTable(spark, gramPath)
    val out = new LakeTable(spark, outPath)
    // an ALTER after the batch's gram commit carries no stamp
    gram.alterSetProperties(Map(LakeTable.DvAutoOptimizeKey -> "false"))
    assert(gram.historyInfo.head.operation == "ALTER.SetProperties")
    assert(!gram.historyInfo.head.operationParameters.contains("streamBatchId"))
    val (vS, vG, vO) = (site.version, gram.version, out.version)
    StreamingSubstringDedup.ingestBatch(shard, 0L, sitePath, gramPath,
      outPath, "doc_id", "text", 10)
    assert((site.version, gram.version, out.version) == ((vS, vG, vO)))
  }

  test("substring sink: a crash right after the gram store's stamped commit leaves it merge-on-read") {
    import graft.streaming.StreamingSubstringDedup
    val shard = (0L until 20L).map(i =>
      (i, (0 until 20).map(j => s"w${(i * 3 + j) % 30}").mkString(" ")))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-streamspan-crash")
    val sitePath = root.resolve("sites"); val gramPath = root.resolve("grams")
    val outPath = root.resolve("spans")
    def ingest(): Unit = StreamingSubstringDedup.ingestBatch(shard, 0L, sitePath, gramPath,
      outPath, "doc_id", "text", 10)
    ingest()
    val gram = new LakeTable(spark, gramPath)
    // the log a crash right after the stamped gram commit leaves: every
    // later version cut away
    val stamped = gram.historyInfo.filter(_.operationParameters.contains("streamBatchId"))
    assert(stamped.size == 1)
    (stamped.head.version + 1 to gram.version).foreach(v => Files.delete(
      graft.lake.TransactionLog.logDir(gramPath).resolve(f"$v%020d.json")))
    val v = gram.version
    ingest()
    assert(gram.version == v)
    assert(gram.snapshotNow.metadata.configuration
      .get(LakeTable.MergeModeKey).contains("merge-on-read"))
  }

  private def copyParts(stage: java.nio.file.Path, dest: java.nio.file.Path, prefix: String): Unit = {
    val it = Files.list(stage).iterator()
    var i = 0
    it.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet")) {
        Files.copy(p, dest.resolve(s"$prefix-$i.parquet")); i += 1
      }
    }
  }
}
