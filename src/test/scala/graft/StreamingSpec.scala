package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Streaming suite: the incremental extraction path must produce exactly
  * the batch pipeline's output, and resume from its checkpoint across
  * restarts without reprocessing (streaming analog of ResumeSpec). */
class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("AvailableNow extraction stream == batch extraction, and checkpoint-resumes") {
    val in = Files.createTempDirectory("graft_stream_in_").toString
    val out = Files.createTempDirectory("graft_stream_out_").toString
    val ckpt = Files.createTempDirectory("graft_stream_ckpt_").toString
    val schemaFrom = spark.createDataset(Seq(DocGen.docFor(0L))).toDF()

    // batch 1: docs 0..199
    spark.createDataset((0L until 200L).map(DocGen.docFor)).toDF()
      .write.mode("append").parquet(in)
    val q1 = streaming.EventStream.runExtractAvailableNow(spark, in, out, ckpt, schemaFrom)
    q1.awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 200)

    // batch 2: docs 200..299 arrive; restart from checkpoint
    spark.createDataset((200L until 300L).map(DocGen.docFor)).toDF()
      .write.mode("append").parquet(in)
    val q2 = streaming.EventStream.runExtractAvailableNow(spark, in, out, ckpt, schemaFrom)
    q2.awaitTermination()

    val streamed = spark.read.parquet(out).as[ExtractedDoc].collect()
    assert(streamed.length == 300, "resume must process only the new files, once")

    // span-for-span equality with the batch oracle
    val byId = streamed.map(d => d.doc_id -> d).toMap
    (0L until 300L).map(DocGen.docFor).foreach { d =>
      val exp = ReferenceOracle.extract(d)
      val act = byId(d.doc_id)
      assert(act.spans.map(s => (s.kind, s.text, s.media_ref)) ==
        exp.spans.map(s => (s.kind, s.text, s.media_ref)), s"mismatch ${d.doc_id}")
    }
  }

  test("native extract_spans runs unchanged under incremental execution (stream == oracle)") {
    val in = Files.createTempDirectory("graft_nstream_in_").toString
    val out = Files.createTempDirectory("graft_nstream_out_").toString
    val ckpt = Files.createTempDirectory("graft_nstream_ckpt_").toString
    val schemaFrom = spark.createDataset(Seq(DocGen.docFor(0L))).toDF()
    spark.createDataset((0L until 150L).map(DocGen.docFor)).toDF()
      .write.mode("append").parquet(in)
    val q = streaming.EventStream.extractStream(spark, in, schemaFrom)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val byId = spark.read.parquet(out).as[ExtractedDoc].collect().map(d => d.doc_id -> d).toMap
    assert(byId.size == 150)
    (0L until 150L).map(DocGen.docFor).foreach { d =>
      val exp = ReferenceOracle.extract(d)
      assert(byId(d.doc_id).spans.map(s => (s.kind, s.text, s.media_ref)) ==
        exp.spans.map(s => (s.kind, s.text, s.media_ref)), s"mismatch ${d.doc_id}")
    }
  }

  test("flatMapGroupsWithState streaming dedup keeps the first payload per key across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val q = streaming.EventStream.firstSeen(mem.toDS())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    mem.addData(("h1", "doc_b"), ("h1", "doc_a"), ("h2", "doc_c"))
    q.processAllAvailable()
    mem.addData(("h1", "doc_z"), ("h3", "doc_d")) // h1 already seen → suppressed
    q.processAllAvailable()
    val rows = spark.sql("select * from dedup_test").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(rows == Set(("h1", "doc_a"), ("h2", "doc_c"), ("h3", "doc_d")), rows.toString)
  }

  test("firstSeenTtl: live keys dedup, expired keys re-admit, idle state is removed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq = spark.sqlContext
    def ts(m: String) = Timestamp.valueOf(s"2026-01-01 $m:00")
    val mem = MemoryStream[(String, String, Timestamp)]
    val q = streaming.EventStream.firstSeenTtl(mem.toDS(), ttlMs = 60 * 60 * 1000) // 1h TTL
      .writeStream.format("memory").queryName("ttl_test")
      .outputMode("append").start()
    // batch 1: first sightings emit
    mem.addData(("k1", "v1", ts("10:00")), ("k2", "w1", ts("10:00")))
    q.processAllAvailable()
    // batch 2: duplicates within the TTL → suppressed (and TTL extended)
    mem.addData(("k1", "v2", ts("10:30")), ("k2", "w2", ts("10:30")))
    q.processAllAvailable()
    // batch 3: advance the watermark past both expiries (10:30 + 1h)
    mem.addData(("other", "x", ts("13:00")))
    q.processAllAvailable()
    // batch 4: k1 reappears AFTER expiry (data present → expiry check path)
    mem.addData(("k1", "v3", ts("13:01")))
    q.processAllAvailable()
    // batch 5: k2 reappears after its state was REMOVED by the timeout path
    mem.addData(("k2", "w3", ts("13:02")))
    q.processAllAvailable()
    val rows = spark.sql("select * from ttl_test").collect()
      .map(r => (r.getString(0), r.getString(1)))
    q.stop()
    assert(rows.toSet == Set(("k1", "v1"), ("k2", "w1"), ("other", "x"),
      ("k1", "v3"), ("k2", "w3")), rows.mkString("; "))
    assert(!rows.contains(("k1", "v2")) && !rows.contains(("k2", "w2")),
      "within-TTL duplicates must be suppressed")
  }

  test("firstSeenTtl: a LATE duplicate cannot shrink the retention deadline (monotone)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sq = spark.sqlContext
    def ts(m: String) = Timestamp.valueOf(s"2026-01-01 $m:00")
    val mem = MemoryStream[(String, String, Timestamp)]
    // 1h TTL, 2h lateness: late duplicates are admissible input
    val q = streaming.EventStream.firstSeenTtl(mem.toDS(),
        ttlMs = 60 * 60 * 1000, watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("ttl_mono_test")
      .outputMode("append").start()
    // k1 first seen at 12:00 → deadline 13:00
    mem.addData(("k1", "v1", ts("12:00")))
    q.processAllAvailable()
    // LATE duplicate at 11:00 (within the 2h lateness): suppressed; a
    // non-monotone update would overwrite the deadline to 12:00
    mem.addData(("k1", "v0", ts("11:00")))
    q.processAllAvailable()
    // advance the watermark to 12:30 — PAST the shrunken deadline but
    // before the true one (13:00)
    mem.addData(("other", "x", ts("14:30")))
    q.processAllAvailable()
    // duplicate at 12:40: still inside the original retention window →
    // must stay suppressed (the buggy shrunken deadline re-emits here)
    mem.addData(("k1", "v2", ts("12:40")))
    q.processAllAvailable()
    val rows = spark.sql("select * from ttl_mono_test").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    q.stop()
    assert(rows == Set(("k1", "v1"), ("other", "x")),
      s"late duplicate shrank retention: $rows")
  }

  test("watermark drops late events in append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import java.sql.Timestamp
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val counts = streaming.EventStream.eventCounts(
      mem.toDF().toDF("ts", "event_type", "value"))
    val q = counts.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    def ts(m: String) = Timestamp.valueOf(s"2026-01-01 $m:00")
    // batch 1: events at 10:00..10:10; watermark advances to max-1h
    mem.addData((ts("10:00"), "click", 1.0), (ts("10:10"), "click", 1.0))
    q.processAllAvailable()
    // batch 2: advance event time far ahead → watermark passes 10:xx windows
    mem.addData((ts("13:00"), "click", 1.0))
    q.processAllAvailable()
    // batch 3: a LATE event at 10:01 — behind the watermark → dropped
    mem.addData((ts("10:01"), "click", 99.0))
    q.processAllAvailable()
    // batch 4: advance again so all closable windows emit
    mem.addData((ts("16:00"), "click", 1.0))
    q.processAllAvailable()
    val rows = spark.sql("select * from wm_test").collect()
    q.stop()
    // the 10:00 window emitted with the ORIGINAL 2 events; the late 99.0
    // never entered (total for that window stays 2.0)
    val w10 = rows.filter(_.getTimestamp(0) == ts("10:00"))
    assert(w10.length == 1 && w10.head.getLong(2) == 2L && w10.head.getDouble(3) == 2.0,
      rows.mkString("; "))
  }

  test("watermarked tumbling-window aggregation plan builds and runs on a batch frame") {
    // eventCounts is a pure plan builder; exercise it on a static frame
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val res = streaming.EventStream.eventCounts(events).collect()
    assert(res.nonEmpty)
  }

  test("streaming extraction commits manifest snapshots per batch; resume appends, readers see lineage") {
    val in = Files.createTempDirectory("graft_mstream_in_").toString
    val tbl = Files.createTempDirectory("graft_mstream_tbl_").toString
    val ckpt = Files.createTempDirectory("graft_mstream_ckpt_").toString
    val schemaFrom = spark.createDataset(Seq(DocGen.docFor(0L))).toDF()

    // each wave written as TWO part files (repartition pins the file count
    // regardless of core count; maxFilesPerTrigger=8 would otherwise split
    // a defaultParallelism-files wave into several micro-batches and break
    // the one-commit-per-wave accounting below)
    spark.createDataset((0L until 200L).map(DocGen.docFor)).toDF()
      .repartition(2).write.mode("append").parquet(in)
    streaming.EventStream.runExtractWithManifest(spark, in, tbl, ckpt, schemaFrom)
      .awaitTermination()
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    val h1 = m.head().get
    assert(m.readData(spark).count() == 200)
    assert(h1.buckets.map(_.rows).sum == 200)
    assert(h1.runId.startsWith("stream-batch-"), h1.runId)

    // wave 2: restart from checkpoint — only new files processed, states MERGE
    spark.createDataset((200L until 300L).map(DocGen.docFor)).toDF()
      .repartition(2).write.mode("append").parquet(in)
    streaming.EventStream.runExtractWithManifest(spark, in, tbl, ckpt, schemaFrom)
      .awaitTermination()
    val h2 = m.head().get
    assert(h2.id > h1.id, "second wave must add snapshots")
    assert(m.readData(spark).count() == 300, "rows accumulate across streaming commits")
    assert(h2.buckets.map(_.rows).sum == 300)
    // watermark advanced monotonically per bucket
    val w1 = h1.buckets.map(b => b.bucket -> b.watermarkDocId).toMap
    h2.buckets.foreach(b => assert(b.watermarkDocId >= w1.getOrElse(b.bucket, "")))
    // file lineage: every referenced file exists and readData plans from it
    assert(h2.buckets.flatMap(_.files).nonEmpty)

    // exactly-once survives an intervening commit AND snapshot expiry:
    // compaction moves HEAD past the stream's snapshots, expireSnapshots
    // deletes them — the per-stream batch watermark carried forward in
    // every snapshot must STILL recognize a re-delivered batch id
    val sid = streaming.EventStream.streamIdFor(ckpt, spark.sessionState.newHadoopConf())
    val lastBatchId = h2.runId.stripPrefix("stream-batch-").toLong
    assert(h2.streamWatermarks.get(sid).contains(lastBatchId), h2.streamWatermarks.toString)
    ExtractJob.compact(spark, tbl, targetFilesPerBucket = 1)
    m.expireSnapshots(keepLast = 1)
    val hc = m.head().get
    assert(hc.runId != h2.runId, "compaction should have moved HEAD")
    assert(hc.streamWatermarks.get(sid).contains(lastBatchId),
      "compaction must carry the stream watermark forward")
    val rowsBefore = m.readData(spark).count()
    streaming.EventStream.commitBatch(
      m.readData(spark).limit(0), lastBatchId, tbl, sid) // re-delivery simulation
    assert(m.head().get.id == hc.id, "re-delivered batch must not commit")
    assert(m.readData(spark).count() == rowsBefore)

    // drained stream with no new data: no new snapshot (no empty commits)
    streaming.EventStream.runExtractWithManifest(spark, in, tbl, ckpt, schemaFrom)
      .awaitTermination()
    assert(m.head().get.id == hc.id, "empty drain must not commit")

    // streamed table content == batch extraction of the same docs
    val exp = (0L until 300L).map(DocGen.docFor).map(ReferenceOracle.extract)
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref))).toMap
    m.readData(spark).as[ExtractedDoc].collect().foreach { d =>
      assert(d.spans.map(s => (s.kind, s.text, s.media_ref)) == exp(d.doc_id), d.doc_id)
    }

    // metrics side table: one batch id per wave, no duplicates
    val runs = spark.read.parquet(s"$tbl/metrics").select($"run_id").distinct()
      .as[String].collect().sorted
    assert(runs.length == 2 && runs.forall(_.startsWith("stream-batch-")), runs.mkString(","))
  }

  test("deduped-corpus stream: cross-batch admission matches batch, re-delivery self-cancels") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_corp_in_").toString
    val corpusDir = Files.createTempDirectory("graft_corp_tbl_").toString + "/c"
    val ckpt = Files.createTempDirectory("graft_corp_ckpt_").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")

    // a PRE-CREATED empty corpus dir (object-store mkdir convention) must
    // read as "no corpus yet", not fail the first batch
    new java.io.File(corpusDir).mkdirs()

    // wave 1: 40 natural docs + 10 exact dups + 5 near-dups, one file
    val wave1 = base.where($"doc_id" < 40)
      .union(base.where($"doc_id" < 10).select(($"doc_id" + 1000).as("doc_id"), $"text"))
      .union(base.where($"doc_id" >= 10 && $"doc_id" < 15)
        .select(($"doc_id" + 2000).as("doc_id"), concat($"text", lit(" extra")).as("text")))
    wave1.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runDedupedCorpusStream(spark, in, corpusDir, ckpt, base)
      .awaitTermination()
    val c1 = spark.read.parquet(corpusDir)
    // admission must equal the batch operator applied to the same wave
    val exp1 = ops.Dedup.incrementalDedup(wave1, wave1.limit(0), "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(c1.select($"doc_id").as[Long].collect().toSet == exp1)

    // wave 2: 20 re-crawled exact copies + 10 fresh docs → only fresh admitted
    val wave2 = base.where($"doc_id" < 20)
      .select(($"doc_id" + 3000).as("doc_id"), $"text")
      .union(base.where($"doc_id" >= 40 && $"doc_id" < 50))
    wave2.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runDedupedCorpusStream(spark, in, corpusDir, ckpt, base)
      .awaitTermination()
    val c2ids = spark.read.parquet(corpusDir).select($"doc_id").as[Long].collect().toSet
    assert((c2ids -- c1.select($"doc_id").as[Long].collect().toSet) ==
      (40L until 50L).toSet, "only the fresh wave-2 docs are admitted")

    // re-delivery: a FRESH checkpoint reprocesses both files; every row is
    // an exact dup of its admitted copy, so nothing new lands
    val ckpt2 = Files.createTempDirectory("graft_corp_ckpt2_").toString
    streaming.EventStream.runDedupedCorpusStream(spark, in, corpusDir, ckpt2, base)
      .awaitTermination()
    assert(spark.read.parquet(corpusDir).count() == c2ids.size.toLong)

    // the built corpus is internally duplicate-free (exact AND near)
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.select(md5($"text")).distinct().count() == c2ids.size.toLong)
    assert(ops.Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.7).count() == 0)
  }

  test("indexed corpus stream: manifest-committed corpus+index, admission == batch, crash files stay orphans") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_icorp_in_").toString
    val tableDir = Files.createTempDirectory("graft_icorp_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_icorp_ckpt_").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")

    // wave 1: naturals + exact dups + near-dups in one file
    val wave1 = base.where($"doc_id" < 40)
      .union(base.where($"doc_id" < 10).select(($"doc_id" + 1000).as("doc_id"), $"text"))
      .union(base.where($"doc_id" >= 10 && $"doc_id" < 15)
        .select(($"doc_id" + 2000).as("doc_id"), concat($"text", lit(" extra")).as("text")))
    wave1.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tableDir, ckpt, base)
      .awaitTermination()
    val table = new Manifest(tableDir, spark.sessionState.newHadoopConf())
    def corpusNow() = table.readData(spark,
      Some(Set(streaming.EventStream.CorpusBucket))).drop("bucket")
    def indexNow() = table.readData(spark,
      Some(Set(streaming.EventStream.IndexBucket))).drop("bucket")
    val exp1 = ops.Dedup.incrementalDedup(wave1, wave1.limit(0), "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val c1 = corpusNow().select($"doc_id").as[Long].collect().toSet
    assert(c1 == exp1, "wave-1 admission must equal the batch operator")
    // the committed index is exactly the index of the committed corpus
    val ix1 = indexNow()
    assert(ix1.select($"doc_id").distinct().as[Long].collect().toSet == c1)

    // crash window: parquet landed in BOTH buckets but the commit never
    // happened → readers must not see it (manifest-planned scan), and the
    // files are GC-able orphans
    val stray = base.where($"doc_id" >= 90 && $"doc_id" < 95)
    stray.write.mode("append")
      .parquet(s"$tableDir/data/bucket=${streaming.EventStream.CorpusBucket}")
    ops.Dedup.buildIndex(stray, "doc_id", "text").write.mode("append")
      .parquet(s"$tableDir/data/bucket=${streaming.EventStream.IndexBucket}")
    assert(corpusNow().select($"doc_id").as[Long].collect().toSet == c1,
      "uncommitted crash files must be invisible to manifest readers")
    assert(table.orphanFiles().nonEmpty, "crash files are orphans")

    // wave 2: exact re-crawls + fresh docs → only fresh admitted; the
    // re-crawls are judged against the COMMITTED corpus via the index
    // (the orphan rows never participate)
    val wave2 = base.where($"doc_id" < 20)
      .select(($"doc_id" + 3000).as("doc_id"), $"text")
      .union(base.where($"doc_id" >= 40 && $"doc_id" < 50))
    wave2.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tableDir, ckpt, base)
      .awaitTermination()
    val c2 = corpusNow().select($"doc_id").as[Long].collect().toSet
    assert((c2 -- c1) == (40L until 50L).toSet, s"got ${(c2 -- c1).toSeq.sorted}")
    // index grew in lockstep
    assert(indexNow().select($"doc_id").distinct().as[Long].collect().toSet == c2)
    // bucket states carry cumulative rows
    val head = table.head().get
    assert(head.buckets.find(_.bucket == 0).get.rows == c2.size.toLong)

    // orphan GC removes exactly the crash files; committed data survives
    val removed = table.removeOrphans()
    assert(removed.nonEmpty)
    assert(corpusNow().select($"doc_id").as[Long].collect().toSet == c2)
    assert(table.orphanFiles().isEmpty)
  }

  test("incremental read over the streaming corpus: a consumer syncs exactly each batch's admissions") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_incr_in_").toString
    val tableDir = Files.createTempDirectory("graft_incr_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_incr_ckpt_").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val cb = streaming.EventStream.CorpusBucket
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id").as[Long].collect().toSet

    val wave1 = base.where($"doc_id" < 40)
    wave1.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tableDir, ckpt, base)
      .awaitTermination()
    val m = new Manifest(tableDir, spark.sessionState.newHadoopConf())
    val a = m.head().get.id
    // consumer bootstrap: everything committed so far (== the batch
    // operator's admission of wave 1 against an empty corpus)
    val exp1 = ids(ops.Dedup.incrementalDedup(wave1, wave1.limit(0), "doc_id", "text"))
    assert(ids(m.readAppended(spark, -1, buckets = Some(Set(cb)))) == exp1)

    // wave 2: exact re-crawls (dropped by the index) + fresh docs
    val wave2 = base.where($"doc_id" < 20)
      .select(($"doc_id" + 3000).as("doc_id"), $"text")
      .union(base.where($"doc_id" >= 40 && $"doc_id" < 50))
    wave2.coalesce(1).write.mode("append").parquet(in)
    val corpus1 = m.readData(spark, Some(Set(cb))).select($"doc_id", $"text")
      .localCheckpoint()
    streaming.EventStream.runIndexedCorpusStream(spark, in, tableDir, ckpt, base)
      .awaitTermination()
    // consumer sync from its checkpointed snapshot id: EXACTLY wave 2's
    // admissions arrive — nothing re-delivered, the dropped re-crawls
    // never surface, and the index bucket's rows don't leak in
    val exp2 = ids(ops.Dedup.incrementalDedup(wave2, corpus1, "doc_id", "text"))
    assert(ids(m.readAppended(spark, a, buckets = Some(Set(cb)))) == exp2)
    assert(exp2.nonEmpty && (exp2 & exp1).isEmpty)
    // windowed replay for a lagging consumer is stable
    assert(ids(m.readAppended(spark, a, toId = Some(m.head().get.id),
      buckets = Some(Set(cb)))) == exp2)
  }

  test("sub-bucketed corpus stream: admissions == single-bucket layout; candidate scan partition-prunes; metrics commit with the data") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // wave 1: naturals + exact dups + near-dups; wave 2: exact re-crawls
    // + fresh docs (same fixture family as the single-bucket test)
    val wave1 = base.where($"doc_id" < 40)
      .union(base.where($"doc_id" < 10).select(($"doc_id" + 1000).as("doc_id"), $"text"))
      .union(base.where($"doc_id" >= 10 && $"doc_id" < 15)
        .select(($"doc_id" + 2000).as("doc_id"), concat($"text", lit(" extra")).as("text")))
    val wave2 = base.where($"doc_id" < 20)
      .select(($"doc_id" + 3000).as("doc_id"), $"text")
      .union(base.where($"doc_id" >= 40 && $"doc_id" < 50))

    def runLayout(buckets: Int): String = {
      val in = Files.createTempDirectory(s"graft_sb${buckets}_in_").toString
      val tbl = Files.createTempDirectory(s"graft_sb${buckets}_tbl_").toString + "/t"
      val ck = Files.createTempDirectory(s"graft_sb${buckets}_ck_").toString
      wave1.coalesce(1).write.mode("append").parquet(in)
      wave2.coalesce(1).write.mode("append").parquet(in)
      streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base,
        corpusBuckets = buckets).awaitTermination()
      tbl
    }
    val t1 = runLayout(1)
    val t4 = runLayout(4)
    def ids(tbl: String, n: Int) =
      streaming.EventStream.readCorpus(spark, tbl, n)
        .select($"doc_id").as[Long].collect().toSet
    val ids1 = ids(t1, 1)
    val ids4 = ids(t4, 4)
    assert(ids4 == ids1, "sub-bucketed layout must admit exactly the single-bucket set")
    assert(ids4.nonEmpty && (40L until 50L).forall(ids4.contains))

    // writer/pruner contract: every committed corpus row sits in the
    // bucket corpusBucketOf assigns its id (a mismatch would silently
    // resolve no candidate text and ADMIT near-dups)
    val m4 = new Manifest(t4, spark.sessionState.newHadoopConf())
    val placed = m4.readData(spark, Some((0 until 4).toSet))
    assert(placed.where($"bucket" =!=
      streaming.EventStream.corpusBucketOf(4)($"doc_id")).count() == 0)

    // the admission plan of a NEXT batch (near-dup re-crawls → few
    // candidate buckets) carries the partition IN filter on the corpus scan
    val next = base.where($"doc_id" < 5)
      .select(($"doc_id" + 9000).as("doc_id"), concat($"text", lit(" zz")).as("text"))
    val plan = streaming.EventStream.admissionOutcome(spark, next, m4,
        bootstrap = false, "doc_id", "text", 0.7, 8, 4, 4, materialize = false)
      .admitted.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      "corpus candidate-text scan must carry a bucket partition filter:\n" +
        plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))

    // admission metrics: one row per committed batch, counts a full
    // partition of the input, identical across layouts
    for ((tbl, n) <- Seq((t1, 1), (t4, 4))) {
      val mx = streaming.EventStream.readAdmissionMetrics(spark, tbl, n)
        .orderBy($"batch_id").collect()
      assert(mx.length == 2, s"one metrics row per batch, got ${mx.length}")
      mx.foreach { r =>
        assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5),
          s"input_rows must equal admitted+exact+near+poisoned: $r")
      }
      // wave 2: the 20 re-crawls all drop (exactly, or as near-dups when
      // their wave-1 original lost an organic near-dup cluster), 10 fresh
      // docs admitted
      val w2 = mx(1)
      assert(w2.getLong(1) == 30 && w2.getLong(2) == 10 &&
        w2.getLong(3) + w2.getLong(4) + w2.getLong(5) == 20,
        s"wave-2 metrics: $w2")
      assert(w2.getLong(3) > 0, s"most re-crawls drop in the exact pass: $w2")
    }
  }

  test("layout stamp: a table written with corpusBuckets=N refuses to open under a different N") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val tbl = Files.createTempDirectory("graft_layout_tbl_").toString + "/t"
    streaming.EventStream.admitIndexedBatch(base.where($"doc_id" < 30), 0L,
      tbl, "stamp-stream", "doc_id", "text", 0.7, 8, 4, corpusBuckets = 3)

    // correct N: all three readers resolve
    assert(streaming.EventStream.readCorpus(spark, tbl, 3).count() > 0)
    assert(streaming.EventStream.readIndex(spark, tbl, 3).count() > 0)
    assert(streaming.EventStream.readAdmissionMetrics(spark, tbl, 3).count() == 1)

    // wrong N: every reader AND the writer fail loudly instead of
    // misreading bucket namespaces (corpus invisible to dedup, index rows
    // parsed as corpus)
    for (wrong <- Seq(1, 4)) {
      val e1 = intercept[IllegalArgumentException](
        streaming.EventStream.readCorpus(spark, tbl, wrong))
      assert(e1.getMessage.contains("corpusBuckets=3"), e1.getMessage)
      intercept[IllegalArgumentException](
        streaming.EventStream.readIndex(spark, tbl, wrong))
      intercept[IllegalArgumentException](
        streaming.EventStream.readAdmissionMetrics(spark, tbl, wrong))
      intercept[IllegalArgumentException](
        streaming.EventStream.admitIndexedBatch(
          base.where($"doc_id" >= 30 && $"doc_id" < 40), 1L,
          tbl, "stamp-stream", "doc_id", "text", 0.7, 8, 4, corpusBuckets = wrong))
    }

    // ... and the stamp survives compaction (watermark map carried
    // forward): a second batch gives the corpus buckets >1 file so the
    // rewrite actually commits
    streaming.EventStream.admitIndexedBatch(
      base.where($"doc_id" >= 30 && $"doc_id" < 60), 1L,
      tbl, "stamp-stream", "doc_id", "text", 0.7, 8, 4, corpusBuckets = 3)
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    val preCompactId = m.head().get.id
    ExtractJob.compact(spark, tbl, only = Some(Set(0, 1, 2)))
    assert(m.head().get.id > preCompactId, "compaction must have committed")
    intercept[IllegalArgumentException](
      streaming.EventStream.readCorpus(spark, tbl, 1))
    assert(streaming.EventStream.readCorpus(spark, tbl, 3).count() > 0)
    assert(m.head().get.streamWatermarks.get("__layout:corpus_buckets").contains(3L))
  }

  test("all-duplicate batch commits a zero-admission metrics row; legacy watermark key still guards re-delivery") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_zadm_in_").toString
    val tbl = Files.createTempDirectory("graft_zadm_tbl_").toString + "/t"
    val ck = Files.createTempDirectory("graft_zadm_ck_").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    base.where($"doc_id" < 20).coalesce(1).write.mode("append").parquet(in)
    // all-dup wave: exact copies under new ids
    base.where($"doc_id" < 10).select(($"doc_id" + 6000).as("doc_id"), $"text")
      .coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base)
      .awaitTermination()
    val mx = streaming.EventStream.readAdmissionMetrics(spark, tbl)
      .orderBy($"batch_id").collect()
    assert(mx.length == 2)
    assert(mx(1).getLong(1) == 10 && mx(1).getLong(2) == 0,
      s"all-dup batch must record (input=10, admitted=0): ${mx(1)}")
    val golden = streaming.EventStream.readCorpus(spark, tbl)
      .select($"doc_id").as[Long].collect().toSet

    // a table whose LAST commit wrote only the legacy (raw-path) watermark
    // key must still guard re-delivery after the canonical-key upgrade
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    val legacy = streaming.EventStream.legacyStreamIdFor(ck)
    val canon = streaming.EventStream.streamIdFor(ck, spark.sessionState.newHadoopConf())
    assert(legacy != canon, "fixture needs distinct keys (raw path is relative-ish)")
    // simulate the old derivation: strip the canonical key, keep legacy
    val head = m.head().get
    m.commit("legacy-rekey", Nil, streamWatermark = Some(legacy -> 1L))
    val before = m.head().get.id
    // rebuild a HEAD whose map has ONLY the legacy key for this stream by
    // committing under a fresh table? simpler: the guard must accept the
    // canonical key being ABSENT when the legacy key covers the batch —
    // exercised via isRedelivered directly on a synthetic snapshot
    val synthetic = head.copy(streamWatermarks = Map(legacy -> 1L))
    assert(streaming.EventStream.isRedelivered(Some(synthetic), canon, legacy, 1L),
      "legacy-key watermark must guard re-delivery")
    assert(!streaming.EventStream.isRedelivered(Some(synthetic), canon, legacy, 2L),
      "a NEW batch id past the legacy watermark must run")
    // and the real path: admitIndexedBatch against the legacy-keyed table
    // is a no-op for a covered batch id
    streaming.EventStream.admitIndexedBatch(
      base.where($"doc_id" < 20), 1L, tbl, canon, "doc_id", "text",
      0.7, 8, 4, 1, legacy)
    assert(m.head().get.id == before, "covered batch must not commit")
    assert(streaming.EventStream.readCorpus(spark, tbl)
      .select($"doc_id").as[Long].collect().toSet == golden)
  }

  test("indexed corpus table compacts per bucket namespace; stream watermark survives compaction") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_ccomp_in_").toString
    val tableDir = Files.createTempDirectory("graft_ccomp_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_ccomp_ckpt_").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // three input files → three micro-batches (maxFilesPerTrigger = 1) →
    // at least one appended parquet file per bucket per batch
    base.where($"doc_id" < 30).coalesce(1).write.mode("append").parquet(in)
    base.where($"doc_id" >= 30 && $"doc_id" < 60)
      .union(base.where($"doc_id" < 10).select(($"doc_id" + 7000).as("doc_id"), $"text"))
      .coalesce(1).write.mode("append").parquet(in)
    base.where($"doc_id" >= 60 && $"doc_id" < 90).coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tableDir, ckpt, base)
      .awaitTermination()
    val m = new Manifest(tableDir, spark.sessionState.newHadoopConf())
    assert(m.head().get.buckets.find(_.bucket == 0).get.files.length >= 3,
      "per-batch appends must fragment the table (the thing compaction exists for)")
    def corpus() = m.readData(spark, Some(Set(0))).drop("bucket")
      .select($"doc_id", md5($"text").as("h")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val golden = corpus()
    // planted re-crawls (7000+) all dropped; a few organic near-dups
    // among the 90 naturals may drop too (threshold 0.7)
    assert(golden.map(_._1).forall(_ < 90L) && golden.size >= 80,
      s"dups dropped, fresh admitted: ${golden.size}")
    // bucket namespaces carry DIFFERENT schemas → compact each separately
    ExtractJob.compact(spark, tableDir, only = Some(Set(0)))
    ExtractJob.compact(spark, tableDir, only = Some(Set(1)))
    ExtractJob.compact(spark, tableDir, only = Some(Set(2)))
    val headC = m.head().get
    assert(headC.buckets.forall(_.files.length == 1), headC.buckets.toString)
    assert(corpus() == golden, "compaction must preserve content byte-for-byte")
    assert(m.readData(spark, Some(Set(1))).select($"doc_id").distinct()
      .as[Long].collect().toSet == golden.map(_._1), "index compacts in lockstep")
    // the exactly-once stream watermark rode through BOTH compaction commits
    val sid = streaming.EventStream.streamIdFor(ckpt, spark.sessionState.newHadoopConf())
    assert(headC.streamWatermarks.getOrElse(sid, -1L) >= 2L)
    // …so a re-delivered early batch is still guarded after compaction
    val beforeId = m.head().get.id
    streaming.EventStream.admitIndexedBatch(base.where($"doc_id" < 30), 0L,
      tableDir, sid, "doc_id", "text", 0.7, 8, 4)
    assert(m.head().get.id == beforeId && corpus() == golden,
      "re-delivery must be a no-op after compaction")
  }

  test("vector-index stream: codebook trains once, probes prune to probed cells, full-probe == brute force") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_vix_in_").toString
    val tbl = Files.createTempDirectory("graft_vix_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vix_ckpt_").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val wave1 = emb.where($"vec_id" < 120)
    val wave2 = emb.where($"vec_id" >= 120 && $"vec_id" < 240)
    val nCells = 8

    wave1.coalesce(1).write.mode("append").parquet(in)
    streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
      emb, nCells = nCells, lloydIters = 1).awaitTermination()
    val cb1 = streaming.VectorIndexStream.readCodebook(spark, tbl, nCells)
    assert(cb1.size == nCells, "bootstrap must train a full codebook")

    wave2.coalesce(1).write.mode("append").parquet(in)
    streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
      emb, nCells = nCells, lloydIters = 1).awaitTermination()
    assert(streaming.VectorIndexStream.readCodebook(spark, tbl, nCells) == cb1,
      "the codebook is trained ONCE at bootstrap, never re-fit by later batches")
    val all = streaming.VectorIndexStream.readVectors(spark, tbl, nCells)
    assert(all.count() == 240)

    // placement contract: every committed row sits in the cell its vector
    // is nearest to under the COMMITTED codebook (wave-2 rows included —
    // they were assigned against the bootstrap codebook, not a re-fit one)
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    val placed = m.readData(spark, Some((0 until nCells).toSet))
    val expected = ops.Similarity.cellRanks(
      placed.drop("bucket"), "vec_id", "embedding", cb1, maxRank = 1)
    assert(placed.join(expected.select($"vec_id", $"__cell"), "vec_id")
      .where($"bucket" =!= $"__cell".cast("int")).count() == 0,
      "every row must live in its nearest cell under the committed codebook")

    // full probe (nProbe == nCells) is exact: equals brute force
    val probes = emb.where($"vec_id" < 3)
    def keyset(df: org.apache.spark.sql.DataFrame) = df
      .select($"probe_id", $"cand_id", $"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = keyset(streaming.VectorIndexStream.topKSnapshot(spark, tbl,
      probes, "vec_id", "embedding", k = 5, nProbe = nCells, nCells = nCells))
    val exp = keyset(ops.Similarity.bruteForceTopK(all, probes,
      "vec_id", "embedding", k = 5))
    assert(got == exp, "nProbe == nCells over the committed index must equal brute force")

    // manifest-level pruning: an nProbe=1 probe's candidate scan reads ONLY
    // the probed cells' committed files (the probe side is checkpointed, so
    // inputFiles of the result IS the candidate file list). Paths are
    // URI-normalized: the manifest records Hadoop's file:/x spelling,
    // inputFiles returns file:///x — same files.
    def fnorm(p: String) = new java.net.URI(p).getPath
    val (_, probedCells) = ops.Similarity.rankProbes(
      probes, "vec_id", "embedding", cb1, nProbe = 1)
    val probedFiles = m.head().get.buckets
      .filter(b => probedCells.contains(b.bucket)).flatMap(_.files)
      .map(fnorm).toSet
    val otherFiles = m.head().get.buckets
      .filterNot(b => probedCells.contains(b.bucket)).flatMap(_.files)
      .map(fnorm).toSet
    val narrow = streaming.VectorIndexStream.topKSnapshot(spark, tbl,
      probes, "vec_id", "embedding", k = 5, nProbe = 1, nCells = nCells)
    val scanned = narrow.inputFiles.map(fnorm).toSet
    assert(scanned.nonEmpty && scanned.subsetOf(probedFiles),
      s"probe must scan only probed cells' files; extra: ${scanned -- probedFiles}")
    assert((scanned & otherFiles).isEmpty)

    // time travel: pin the wave-1 snapshot — no wave-2 candidate can appear
    val asOf0 = streaming.VectorIndexStream.topKSnapshot(spark, tbl, probes,
      "vec_id", "embedding", k = 5, nProbe = nCells, nCells = nCells,
      asOf = Some(0))
    assert(asOf0.where($"cand_id" >= 120).count() == 0 && asOf0.count() > 0)

    // ingest metrics: one committed row per batch; only batch 0 trained;
    // the drift signal (mean squared assignment distance) is present
    val mx = streaming.VectorIndexStream.readIngestMetrics(spark, tbl, nCells)
      .orderBy($"batch_id").collect()
    assert(mx.length == 2)
    mx.foreach(r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(7),
        "input_rows == indexed + dropped_null + near_dropped"))
    assert(mx(0).getBoolean(5) && !mx(1).getBoolean(5))
    mx.foreach(r => assert(r.getLong(6) >= 0L,
      "non-empty batches must record a mean squared assignment distance"))
    // recompute batch 2's drift signal from the committed rows: wave-2
    // ids, distance to their assigned cells' centroids
    val sqdOf = expr("""aggregate(zip_with(cv, embedding,
      |  (a, b) -> (a - cast(b as double)) * (a - cast(b as double))),
      |  0D, (acc, v) -> acc + v)""".stripMargin)
    val cbDf = cb1.zipWithIndex.map { case (c, i) => (i, c) }.toDF("bucket", "cv")
    val expectMsd = math.floor(m.readData(spark, Some((0 until nCells).toSet))
      .where($"vec_id" >= 120).join(cbDf, "bucket")
      .agg(avg(sqdOf)).head().getDouble(0) * 1e6).toLong
    assert(mx(1).getLong(6) == expectMsd,
      s"assign_msd_q must replay exactly: ${mx(1).getLong(6)} != $expectMsd")

    // crash window: files in a cell bucket without a commit stay invisible
    // orphans; a re-delivered batch id is a no-op
    val beforeId = m.head().get.id
    wave1.limit(5).withColumn("bucket", lit(0)).drop("bucket")
      .write.mode("append").parquet(s"$tbl/data/bucket=0")
    assert(streaming.VectorIndexStream.readVectors(spark, tbl, nCells)
      .count() == 240, "uncommitted crash files must stay invisible")
    assert(m.orphanFiles().nonEmpty)
    val sid = streaming.EventStream.streamIdFor(ckpt, spark.sessionState.newHadoopConf())
    streaming.VectorIndexStream.indexBatch(wave1, 0L, tbl, sid,
      "vec_id", "embedding", nCells, lloydIters = 1)
    assert(m.head().get.id == beforeId,
      "re-delivered batch must not commit")

    // schema evolution: a PRE-GATE metrics row (7 columns, before
    // near_dropped / gate_skipped_cells existed) committed into the same
    // bucket must still read — merged to the stable 9-column schema with
    // the missing audit counters surfacing as 0, not a vanished column or
    // a positional NPE
    val mBucket = streaming.VectorIndexStream.metricsBucketFor(nCells)
    val pre = m.listBucketFiles(mBucket).toSet
    Seq((99L, 10L, 10L, 0L, 2L, false, 7L))
      .toDF("batch_id", "input_rows", "indexed", "dropped_null",
        "cells_touched", "trained", "assign_msd_q")
      .coalesce(1).write.mode("append").parquet(s"$tbl/data/bucket=$mBucket")
    val legacyFiles = m.listBucketFiles(mBucket).filterNot(pre)
    val oldState = m.head().get.buckets.find(_.bucket == mBucket).get
    m.commit("legacy-metrics", Seq(oldState.copy(
      rows = oldState.rows + 1, files = oldState.files ++ legacyFiles)))
    val merged = streaming.VectorIndexStream.readIngestMetrics(spark, tbl, nCells)
    assert(merged.columns.length == 9 &&
      merged.columns.contains("near_dropped") &&
      merged.columns.contains("gate_skipped_cells"))
    val legacyRow = merged.where($"batch_id" === 99L)
      .select($"near_dropped", $"gate_skipped_cells").head()
    assert(legacyRow.getLong(0) == 0L && legacyRow.getLong(1) == 0L,
      "pre-gate rows must surface the added audit counters as 0")
    assert(merged.count() == mx.length + 1)
  }

  test("vector-index semantic admission: committed and intra-batch near-dups are dropped and counted") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_vixd_in_").toString
    val tbl = Files.createTempDirectory("graft_vixd_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vixd_ckpt_").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val nCells = 4
    val gate = Some(0.9999)

    // wave 1: 100 organic vectors PLUS one intra-batch exact pair
    // (9000/9001 share vec-400's embedding, which is otherwise absent
    // from every wave) — keep-first must admit 9000 only
    val dupVec = emb.where($"vec_id" === 400)
    val wave1 = emb.where($"vec_id" < 100)
      .unionByName(dupVec.select(lit(9000L).as("vec_id"), $"embedding"))
      .unionByName(dupVec.select(lit(9001L).as("vec_id"), $"embedding"))
    wave1.coalesce(1).write.mode("append").parquet(in)
    streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
      emb, nCells = nCells, lloydIters = 1,
      nearDupCosine = gate).awaitTermination()
    val ids1 = streaming.VectorIndexStream.readVectors(spark, tbl, nCells)
      .select($"vec_id").as[Long].collect().toSet
    assert(ids1.contains(9000L) && !ids1.contains(9001L),
      "intra-batch exact pair: the smaller id wins, the larger is dropped")
    assert(ids1.contains(0L), "the organic original is admitted")

    // wave 2: 40 fresh vectors + exact re-ingests of 10 committed ones
    // under NEW ids — every re-ingest must be caught by the committed side
    val wave2 = emb.where($"vec_id" >= 100 && $"vec_id" < 140)
      .unionByName(emb.where($"vec_id" < 10)
        .select(($"vec_id" + 10000).as("vec_id"), $"embedding"))
    wave2.coalesce(1).write.mode("append").parquet(in)
    streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
      emb, nCells = nCells, lloydIters = 1,
      nearDupCosine = gate).awaitTermination()
    val ids2 = streaming.VectorIndexStream.readVectors(spark, tbl, nCells)
      .select($"vec_id").as[Long].collect().toSet
    assert((0L until 10L).forall(i => !ids2.contains(i + 10000)),
      "every exact re-ingest of a committed vector must be dropped")
    assert((100L until 140L).forall(ids2.contains),
      "fresh vectors must be admitted")

    // metrics account for the gate: wave-1 near_dropped >= 1 (the planted
    // intra pair; organic >cosine-0.9999 twins may add), wave-2 >= 10,
    // and input == indexed + dropped_null + near_dropped on every row
    val mx = streaming.VectorIndexStream.readIngestMetrics(spark, tbl, nCells)
      .orderBy($"batch_id").collect()
    assert(mx.length == 2)
    mx.foreach(r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3) + r.getLong(7)))
    assert(mx(0).getLong(7) >= 1L && mx(1).getLong(7) >= 10L,
      s"near_dropped: ${mx.map(_.getLong(7)).toSeq}")

    // hot-cell guard: with maxGateCell = 1 every batch cell is oversized
    // (the committed side alone exceeds it), so the gate SKIPS them —
    // rows are admitted ungated (even exact copies of committed vectors,
    // never a stalled quadratic join) and the skip count is audited
    val wave3 = emb.where($"vec_id" < 5)
      .select(($"vec_id" + 20000).as("vec_id"), $"embedding")
    wave3.coalesce(1).write.mode("append").parquet(in)
    streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
      emb, nCells = nCells, lloydIters = 1, nearDupCosine = gate,
      maxGateCell = 1).awaitTermination()
    val ids3 = streaming.VectorIndexStream.readVectors(spark, tbl, nCells)
      .select($"vec_id").as[Long].collect().toSet
    assert((0L until 5L).forall(i => ids3.contains(i + 20000)),
      "oversized cells must be admitted ungated, not dropped")
    val mx3 = streaming.VectorIndexStream.readIngestMetrics(spark, tbl, nCells)
      .orderBy($"batch_id").collect()
    assert(mx3.last.getLong(8) > 0L, "skipped cells must be audited")
    assert(mx3.take(2).forall(_.getLong(8) == 0L),
      "cells under the default cap are never skipped")

    // the gate changes ADMISSION only — probes over the committed table
    // still rank identically to brute force at full probe
    val probes = emb.where($"vec_id" < 3)
    val all = streaming.VectorIndexStream.readVectors(spark, tbl, nCells)
    def keyset(df: org.apache.spark.sql.DataFrame) = df
      .select($"probe_id", $"cand_id", $"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(keyset(streaming.VectorIndexStream.topKSnapshot(spark, tbl,
        probes, "vec_id", "embedding", k = 5, nProbe = nCells,
        nCells = nCells)) ==
      keyset(ops.Similarity.bruteForceTopK(all, probes,
        "vec_id", "embedding", k = 5)))
  }

  test("vector-index stream: a supplied initialCodebook is committed verbatim and never re-fit") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_vixi_in_").toString
    val tbl = Files.createTempDirectory("graft_vixi_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vixi_ckpt_").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val nCells = 4
    // an offline codebook trained on a DIFFERENT slice than the stream
    // will ever see — exactly the production split
    val offline = ops.Similarity.refineCentroids(
      emb.where($"vec_id" >= 300), "embedding",
      ops.Similarity.seedCentroids(
        emb.where($"vec_id" >= 300), "vec_id", "embedding", nCells), 1)
    emb.where($"vec_id" < 100).coalesce(1).write.mode("append").parquet(in)
    streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
      emb, nCells = nCells, lloydIters = 3,
      initialCodebook = Some(offline)).awaitTermination()
    assert(streaming.VectorIndexStream.readCodebook(spark, tbl, nCells)
      == offline.map(_.toSeq),
      "the supplied codebook must be committed verbatim (no in-stream Lloyd)")
    // placement honors the SUPPLIED geometry
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    val placed = m.readData(spark, Some((0 until nCells).toSet))
    val expected = ops.Similarity.cellRanks(
      placed.drop("bucket"), "vec_id", "embedding", offline, maxRank = 1)
    assert(placed.join(expected.select($"vec_id", $"__cell"), "vec_id")
      .where($"bucket" =!= $"__cell".cast("int")).count() == 0)
    val mx = streaming.VectorIndexStream.readIngestMetrics(spark, tbl, nCells)
      .collect()
    assert(mx.length == 1 && mx(0).getBoolean(5),
      "committing the supplied codebook counts as this table's training")
    // oversized codebook refused before anything is written
    val e = intercept[IllegalArgumentException] {
      streaming.VectorIndexStream.indexBatch(emb.where($"vec_id" < 5), 9L,
        tbl, "other-stream", "vec_id", "embedding", nCells, 1,
        initialCodebook = Some(Seq.fill(nCells + 1)(Seq(0.0))))
    }
    assert(e.getMessage.contains("initialCodebook"))
  }

  test("vector-index table compacts per namespace; probes, stamp and exactly-once guard survive compaction + GC") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_vixc_in_").toString
    val tbl = Files.createTempDirectory("graft_vixc_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vixc_ckpt_").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val nCells = 4
    // three waves → three commits → fragmented cell buckets
    for (w <- 0 until 3) {
      emb.where($"vec_id" >= w * 80 && $"vec_id" < (w + 1) * 80)
        .coalesce(1).write.mode("append").parquet(in)
      streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
        emb, nCells = nCells, lloydIters = 1).awaitTermination()
    }
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    assert(m.head().get.buckets.filter(_.bucket < nCells)
      .exists(_.files.length >= 2),
      "per-batch appends must fragment at least one cell bucket")
    val probes = emb.where($"vec_id" < 3)
    def result() = streaming.VectorIndexStream.topKSnapshot(spark, tbl,
      probes, "vec_id", "embedding", k = 5, nProbe = 2, nCells = nCells)
      .select($"probe_id", $"cand_id", $"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val golden = result()
    val cb = streaming.VectorIndexStream.readCodebook(spark, tbl, nCells)
    // cell buckets share the vector schema → one compact call covers all
    // four; codebook and metrics namespaces compact separately
    ExtractJob.compact(spark, tbl, only = Some((0 until nCells).toSet))
    ExtractJob.compact(spark, tbl,
      only = Some(Set(streaming.VectorIndexStream.metricsBucketFor(nCells))))
    val headC = m.head().get
    assert(headC.buckets.filter(_.bucket < nCells).forall(_.files.length == 1))
    assert(result() == golden, "compaction must not change probe results")
    assert(streaming.VectorIndexStream.readCodebook(spark, tbl, nCells) == cb)
    // layout stamp rode through the compaction commits
    intercept[IllegalArgumentException] {
      streaming.VectorIndexStream.topKSnapshot(spark, tbl, probes,
        "vec_id", "embedding", k = 5, nProbe = 1, nCells = 8)
    }
    // GC the pre-compaction orphans; the HEAD probe is untouched
    assert(m.orphanFiles().nonEmpty)
    m.removeOrphans()
    assert(m.orphanFiles().isEmpty && result() == golden)
    // exactly-once guard survives compaction: replaying batch 0 is a no-op
    val sid = streaming.EventStream.streamIdFor(
      ckpt, spark.sessionState.newHadoopConf())
    val beforeId = m.head().get.id
    streaming.VectorIndexStream.indexBatch(emb.where($"vec_id" < 80), 0L,
      tbl, sid, "vec_id", "embedding", nCells, lloydIters = 1)
    assert(m.head().get.id == beforeId && result() == golden,
      "re-delivery must be a no-op after compaction")
  }

  test("corpus stream → hash embeddings → vector index: the two streaming tables compose end-to-end") {
    import org.apache.spark.sql.functions._
    val cIn = Files.createTempDirectory("graft_e2e_cin_").toString
    val cTbl = Files.createTempDirectory("graft_e2e_ctbl_").toString + "/t"
    val cCkpt = Files.createTempDirectory("graft_e2e_cckpt_").toString
    val vIn = Files.createTempDirectory("graft_e2e_vin_").toString
    val vTbl = Files.createTempDirectory("graft_e2e_vtbl_").toString + "/t"
    val vCkpt = Files.createTempDirectory("graft_e2e_vckpt_").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").where($"text".isNotNull)

    // 1. text through the deduped INDEXED corpus stream (one re-crawl
    //    planted: doc 7000 duplicates doc 0's text and must be dropped)
    base.where($"doc_id" < 60)
      .union(base.where($"doc_id" === 0)
        .select(lit(7000L).as("doc_id"), $"text"))
      .coalesce(1).write.mode("append").parquet(cIn)
    streaming.EventStream.runIndexedCorpusStream(spark, cIn, cTbl, cCkpt,
      base).awaitTermination()
    val corpus = streaming.EventStream.readCorpus(spark, cTbl)
    assert(corpus.where($"doc_id" === 7000).count() == 0,
      "the corpus stream must have deduped the planted re-crawl")

    // 2. embed the COMMITTED corpus (hashing trick) and stream the
    //    vectors into a manifest-committed vector index
    val emb = ops.Embed.hashEmbed(corpus, "text", dims = 64)
      .select($"doc_id".as("vec_id"),
        $"vec".cast("array<double>").as("embedding"))
    emb.coalesce(1).write.mode("append").parquet(vIn)
    streaming.VectorIndexStream.runVectorIndexStream(spark, vIn, vTbl,
      vCkpt, emb, nCells = 4, lloydIters = 1).awaitTermination()

    // 3. probe the index with a committed doc's own embedding under a
    //    FRESH probe id: the doc itself must come back at rank 1 with
    //    cosine 1 (hash embeddings are a pure function of the text)
    val probe = emb.where($"vec_id" === 5)
      .select(lit(-1L).as("vec_id"), $"embedding")
    val hit = streaming.VectorIndexStream.topKSnapshot(spark, vTbl, probe,
      "vec_id", "embedding", k = 1, nProbe = 4, nCells = 4)
      .select($"cand_id", $"cosine").head()
    assert(hit.getLong(0) == 5L && math.abs(hit.getDouble(1) - 1.0) < 1e-12,
      s"own-text probe must retrieve the source doc first: $hit")
  }

  test("vector-index layout stamp: a table written with nCells=N refuses to open under a different N") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_vixl_in_").toString
    val tbl = Files.createTempDirectory("graft_vixl_tbl_").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vixl_ckpt_").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding").where($"vec_id" < 60)
    emb.coalesce(1).write.mode("append").parquet(in)
    streaming.VectorIndexStream.runVectorIndexStream(spark, in, tbl, ckpt,
      emb, nCells = 4, lloydIters = 0).awaitTermination()
    assert(streaming.VectorIndexStream.readVectors(spark, tbl, 4).count() == 60)
    val probes = emb.where($"vec_id" < 2)
    for (bad <- Seq(2, 8)) {
      val e = intercept[IllegalArgumentException] {
        streaming.VectorIndexStream.topKSnapshot(spark, tbl, probes,
          "vec_id", "embedding", k = 3, nProbe = 1, nCells = bad)
      }
      assert(e.getMessage.contains("nCells"))
    }
  }

  test("multimodal span ops run unchanged on a stream (interleaved stream + caption mining, stream == batch)") {
    // interleavedStream and captionCandidates are stateless column algebra
    // over the span array, so the SAME operator objects compose into
    // readStream with no code changes — a multimodal ingest can mine its
    // training shapes per micro-batch
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_mm_in_").toString
    val out = Files.createTempDirectory("graft_mm_out_").toString
    val ckpt = Files.createTempDirectory("graft_mm_ckpt_").toString
    val raw = DocGen.generate(spark, 300, 4).toDF()
    raw.write.mode("append").parquet(in)

    def mmStage(df: org.apache.spark.sql.DataFrame) = {
      val st = ops.Sampling.interleavedStream($"spans", t => split(t, " "))
      df.select($"doc_id",
        md5(array_join(st.getField("toks"), " ")).as("h_toks"),
        size(filter(st.getField("refs"), r => r.isNotNull)).as("n_media"),
        md5(array_join(expr("transform(__cc, x -> coalesce(x.caption, '.'))")
          .as("c"), "|")).as("h_caps"))
    }
    def withCc(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("__cc", ops.Media.captionCandidates($"spans"))

    val q = mmStage(withCc(spark.readStream.schema(raw.schema).parquet(in)))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val streamed = asSet(spark.read.parquet(out))
    val batch = asSet(mmStage(withCc(raw)))
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(_._3 > 0), "the fixture must contain media spans")
  }

  test("cleaning + sampling column ops run unchanged on a stream (stream == batch)") {
    // the cleaning/mixing stages are stateless column algebra, so the SAME
    // operator objects compose into readStream with no code changes — the
    // batch/streaming duality Spark promises, verified here
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_clean_in_").toString
    val out = Files.createTempDirectory("graft_clean_out_").toString
    val ckpt = Files.createTempDirectory("graft_clean_ckpt_").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", concat($"text",
        lit(" ping admin"), $"doc_id".cast("string"), lit("@spam.io")).as("text"),
        $"source")
    docs.write.mode("append").parquet(in)

    def cleanStage(df: org.apache.spark.sql.DataFrame) = {
      val red = df.withColumn("text", ops.Cleaning.redactPii($"text"))
        .withColumn("w", ops.Cleaning.wordsOf($"text"))
        .where(ops.Cleaning.topWordFracQ4($"w") <= 2000).drop("w")
      ops.Sampling.mixtureSample(red, "doc_id", "source", Map("src0" -> 5000), 9000)
        .withColumn("split", ops.Sampling.splitLabel($"doc_id", 1000))
    }

    val q = cleanStage(spark.readStream.schema(docs.schema).parquet(in))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(out)
      .select($"doc_id", $"text", $"split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batch = cleanStage(docs)
      .select($"doc_id", $"text", $"split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // every surviving row is redacted
    assert(streamed.forall(_._2.contains("<EMAIL>")))
  }

  test("corpus stream heat sketch: per-batch CMS commits merge to arrival heat; replay adds nothing; geometry guarded") {
    import org.apache.spark.sql.functions._
    val in = Files.createTempDirectory("graft_heat_in_").toString
    val tbl = Files.createTempDirectory("graft_heat_tbl_").toString + "/t"
    val ck = Files.createTempDirectory("graft_heat_ckpt_").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"source")

    // wave 1: fresh docs; wave 2: half exact RE-CRAWLS (dedup drops them,
    // the heat sketch must still count their arrival) + fresh docs
    val wave1 = base.where($"doc_id" < 60)
    val wave2 = base.where($"doc_id" < 30) // exact dups of wave 1
      .union(base.where($"doc_id" >= 60 && $"doc_id" < 80))
    wave1.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base,
        heatCol = Some("source"))
      .awaitTermination()
    wave2.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base,
        heatCol = Some("source"))
      .awaitTermination()

    // dedup DID drop the 30 exact re-crawls (heat ≠ corpus; the fixture
    // also carries a couple of natural near-dups, so bound, not equality)
    val corpusRows = streaming.EventStream.readCorpus(spark, tbl).count()
    assert(corpusRows <= 80 && corpusRows >= 70,
      s"corpus must hold ~80 deduped docs of 110 arrivals, got $corpusRows")

    // merged sketch == arrival heat, duplicates included: estimates are
    // >= the true per-source INPUT counts, and exact at width 1024 with
    // this few distinct keys (deterministic hashes — no collisions here)
    val arrivals = wave1.unionByName(wave2).groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sketch = streaming.EventStream.readHeatSketch(spark, tbl)
    val est = ops.Cms.estimate(
        wave1.select($"source".as("key")).distinct(), "key", sketch,
        streaming.EventStream.HeatDepthDefault,
        streaming.EventStream.HeatWidthDefault)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    arrivals.foreach { case (src, n) =>
      assert(est(src) == n, s"$src: est ${est(src)} vs arrivals $n")
    }

    // replay with no new files: the redelivery guard admits nothing and
    // the sketch is unchanged (no double-counted heat)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base,
        heatCol = Some("source"))
      .awaitTermination()
    val total2 = streaming.EventStream.readHeatSketch(spark, tbl)
      .agg(sum($"n")).head().getLong(0)
    val expected = (wave1.count() + wave2.count()) *
      streaming.EventStream.HeatDepthDefault
    assert(total2 == expected, s"sketch mass $total2 vs $expected")

    // mismatched geometry fails loudly instead of summing garbage
    val e = intercept[IllegalArgumentException] {
      streaming.EventStream.readHeatSketch(spark, tbl, heatWidth = 2048)
    }
    assert(e.getMessage.contains("width"))

    // presence is part of the contract: resuming WITHOUT heatCol over a
    // heat-carrying table must fail loudly (the sketch would silently
    // stop counting arrivals — an undercount, the one error Count-Min
    // never makes), not skip recording
    base.where($"doc_id" >= 80 && $"doc_id" < 90)
      .coalesce(1).write.mode("append").parquet(in)
    val eOff = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base)
        .awaitTermination()
    }
    assert(eOff.getMessage.contains("without heatCol"), eOff.getMessage)

    // ...and enabling heat mid-life on a never-heat table fails too
    val tbl2 = Files.createTempDirectory("graft_heat_tbl2_").toString + "/t"
    val ck2 = Files.createTempDirectory("graft_heat_ckpt2_").toString
    val in2 = Files.createTempDirectory("graft_heat_in2_").toString
    wave1.coalesce(1).write.mode("append").parquet(in2)
    streaming.EventStream.runIndexedCorpusStream(spark, in2, tbl2, ck2, base)
      .awaitTermination()
    wave2.coalesce(1).write.mode("append").parquet(in2)
    val eOn = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      streaming.EventStream.runIndexedCorpusStream(spark, in2, tbl2, ck2, base,
          heatCol = Some("source"))
        .awaitTermination()
    }
    assert(eOn.getMessage.contains("enabling heatCol"), eOn.getMessage)

    // a table with no heat sketch reads back a clear error, not an
    // unresolved-column failure against the corpus schema
    val eRead = intercept[IllegalArgumentException] {
      streaming.EventStream.readHeatSketch(spark, tbl2)
    }
    assert(eRead.getMessage.contains("no heat sketch"), eRead.getMessage)
  }

  test("deleteDocs: corpus+index forget in one snapshot; a re-crawl of forgotten text is re-admitted, remembered text still drops") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val tbl = Files.createTempDirectory("graft_forget_tbl_").toString + "/t"
    streaming.EventStream.admitIndexedBatch(base.where($"doc_id" < 40), 0L,
      tbl, "forget-stream", "doc_id", "text", 0.7, 8, 4, corpusBuckets = 4)
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    def corpusIds() = streaming.EventStream.readCorpus(spark, tbl, 4)
      .select($"doc_id").as[Long].collect().toSet
    def indexIds() = streaming.EventStream.readIndex(spark, tbl, 4)
      .select($"doc_id").distinct().as[Long].collect().toSet
    val c0 = corpusIds()
    assert(c0.size >= 4 && indexIds() == c0)

    // forget two ADMITTED docs (picked from the corpus, so the test holds
    // even if organic near-dups dropped some of 0..39); remember a third
    val sorted = c0.toSeq.sorted
    val (fA, fB, kept) = (sorted.head, sorted(1), sorted.last)
    val s0 = m.head().get
    val snap = streaming.EventStream.deleteDocs(spark, tbl,
      Seq(fA, fB).toDF("doc_id"), corpusBuckets = 4)
    assert(snap.id == s0.id + 1, "one commit covers corpus AND index")
    assert(corpusIds() == c0 - fA - fB)
    assert(indexIds() == c0 - fA - fB, "index rows forget in the same snapshot")
    // metrics namespace untouched
    assert(streaming.EventStream.readAdmissionMetrics(spark, tbl, 4).count() == 1)

    // re-crawl: the forgotten doc's exact text under a new id must be
    // ADMITTED (the pipeline has no memory of it); the remembered doc's
    // text still drops as an exact dup
    val textOf = base.where($"doc_id".isin(fA, kept))
      .as[(Long, String)].collect().toMap
    val recrawl = Seq((7000L, textOf(fA)), (7001L, textOf(kept)))
      .toDF("doc_id", "text")
    streaming.EventStream.admitIndexedBatch(recrawl, 1L,
      tbl, "forget-stream", "doc_id", "text", 0.7, 8, 4, corpusBuckets = 4)
    val c2 = corpusIds()
    assert(c2.contains(7000L), "forgotten text must be re-admitted")
    assert(!c2.contains(7001L), "remembered text must still drop")

    // the forget recipe scrubs the bytes from every surviving file of the
    // id-carrying namespaces (corpus sub-buckets + index)
    m.expireSnapshots(keepLast = 1)
    m.removeOrphans()
    val survivorFiles = (0 to 4).flatMap(m.listBucketFiles)
    val survivorIds = survivorFiles.flatMap(f =>
      spark.read.parquet(f).select($"doc_id").as[Long].collect()).toSet
    assert(!survivorIds.contains(fA) && !survivorIds.contains(fB),
      "after expire+GC no surviving file may contain a forgotten id")
  }

  test("reshardCorpus: 1→4 migration preserves content, engages pruning, keeps the resumed stream's exactly-once guard; 4→2 downshards") {
    import org.apache.spark.sql.functions._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val in = Files.createTempDirectory("graft_reshard_in_").toString
    val tbl = Files.createTempDirectory("graft_reshard_tbl_").toString + "/t"
    val ck = Files.createTempDirectory("graft_reshard_ck_").toString
    val wave1 = base.where($"doc_id" < 40)
    val wave2 = base.where($"doc_id" < 20)
      .select(($"doc_id" + 3000).as("doc_id"), $"text")
      .union(base.where($"doc_id" >= 40 && $"doc_id" < 50))
    wave1.coalesce(1).write.mode("append").parquet(in)
    wave2.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base)
      .awaitTermination() // corpusBuckets = 1 (the default layout)
    def corpusIds(n: Int) = streaming.EventStream.readCorpus(spark, tbl, n)
      .select($"doc_id").as[Long].collect().toSet
    def indexRows(n: Int) = streaming.EventStream.readIndex(spark, tbl, n)
      .select($"doc_id", $"h", $"band", $"bandhash")
      .as[(Long, String, Int, Option[String])].collect().toSet
    def metricsRows(n: Int) =
      streaming.EventStream.readAdmissionMetrics(spark, tbl, n)
        .orderBy($"batch_id").collect().map(_.toSeq).toSeq
    val (ids1, ix1, mx1) = (corpusIds(1), indexRows(1), metricsRows(1))
    assert(mx1.length == 2)

    val snap = streaming.EventStream.reshardCorpus(spark, tbl, to = 4)
    assert(snap.streamWatermarks.get("__layout:corpus_buckets").contains(4L))
    assert(corpusIds(4) == ids1, "reshard must move every corpus row")
    assert(indexRows(4) == ix1, "index rows move verbatim")
    assert(metricsRows(4) == mx1, "metrics rows move verbatim")
    // the OLD layout no longer opens
    intercept[IllegalArgumentException](corpusIds(1))
    // writer/pruner contract under the new layout: every row in the
    // bucket its id hashes to, and the admission plan partition-prunes
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    val placed = m.readData(spark, Some((0 until 4).toSet))
    assert(placed.where($"bucket" =!=
      streaming.EventStream.corpusBucketOf(4)($"doc_id")).count() == 0)
    val next = base.where($"doc_id" < 5)
      .select(($"doc_id" + 9000).as("doc_id"), concat($"text", lit(" zz")).as("text"))
    val plan = streaming.EventStream.admissionOutcome(spark, next, m,
        bootstrap = false, "doc_id", "text", 0.7, 8, 4, 4, materialize = false)
      .admitted.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      "resharded corpus scan must carry a bucket partition filter")

    // the resumed stream under the new layout: only the NEW file is
    // processed (watermarks carried through the reshard commit), fresh
    // docs admitted, re-crawls dropped
    // fresh docs are synthesized with id-suffixed words so their shingle
    // sets are disjoint from the corpus AND from each other (the fixture
    // plants organic near-dup families — e.g. doc 50 ~ doc 0 — so drawing
    // "fresh" docs from it would race the planted dups)
    val wave3 = spark.range(10).select(($"id" + 6000).as("doc_id"),
        concat_ws(" ", (0 until 12).map(w =>
          concat(lit(s"w$w"), $"id", lit(s"x$w"))): _*).as("text"))
      .union(base.where($"doc_id" < 5)
        .select(($"doc_id" + 5000).as("doc_id"), $"text"))
    wave3.coalesce(1).write.mode("append").parquet(in)
    streaming.EventStream.runIndexedCorpusStream(spark, in, tbl, ck, base,
      corpusBuckets = 4).awaitTermination()
    val ids3 = corpusIds(4)
    assert(metricsRows(4).length == 3, "exactly one new batch after resume")
    assert((6000L until 6010L).forall(ids3.contains), "fresh wave-3 docs admitted")
    assert((5000L until 5005L).forall(id => !ids3.contains(id)),
      "re-crawls drop against the resharded index")

    // old-layout files are COW orphans; GC leaves the table intact
    assert(m.removeOrphans().nonEmpty)
    assert(corpusIds(4) == ids3)

    // downshard is legal too (the stamp overwrites, never max-merges)
    streaming.EventStream.reshardCorpus(spark, tbl, to = 2, from = 4)
    assert(corpusIds(2) == ids3)
    assert(indexRows(2).map(_._1) == ids3, "index follows the downshard")
    assert(metricsRows(2).length == 3)
    intercept[IllegalArgumentException](corpusIds(4))
  }
}
