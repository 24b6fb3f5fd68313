package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY.md §2B "Streaming").
  *
  * The reference is one-shot per URL (qetch has no streaming; its only
  * continuous behavior is the download progress loop,
  * qetch/downloaders/_common.py::BaseDownloader.download). The north rule
  * demands resumable *batch*, which the manifest layer provides; this module
  * additionally exposes the same transforms as an incremental pipeline for
  * continuously-arriving documents/events:
  *
  *  - [[files]]: the one file source (parquet files appearing under a
  *    directory, a bounded number per micro-batch);
  *  - [[availableNow]]: the one runner — drains what is available under a
  *    checkpoint, then stops (the streaming analog of our batch-resume),
  *    handing each micro-batch to a manifest-committing batch function
  *    ([[commitBatch]], [[admitIndexedBatch]],
  *    [[VectorIndexStream.indexBatch]]) with the stream ids derived once;
  *  - [[extractStream]]: raw docs → the SAME extraction columns, a pure
  *    plan builder shared by tests and [[runExtractWithManifest]];
  *  - [[eventCounts]] / [[firstSeenTtl]]: watermarked windows and
  *    keep-first dedup state with an event-time TTL.
  */
object EventStream {

  /** The one file-source stream: parquet files appearing under `inDir`,
    * at most `maxFiles` of them per micro-batch. */
  private[graft] def files(spark: SparkSession, inDir: String,
      schemaFrom: DataFrame, maxFiles: Int): DataFrame =
    spark.readStream.schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", maxFiles)
      .parquet(inDir)

  /** Streaming extraction: raw-doc parquet files appearing under `inDir` →
    * extracted spans, through the same native `extract_spans` expression as
    * the batch path (Catalyst expressions are engine-agnostic between batch
    * and micro-batch plans). */
  def extractStream(spark: SparkSession, inDir: String, schemaFrom: DataFrame): DataFrame =
    graft.plans.GraftFunctions.extractColumnar(files(spark, inDir, schemaFrom, 8))

  /** The one stream runner: drain what `source` has available now through
    * `checkpointDir`, then stop (resumable from the checkpoint). Each
    * micro-batch goes to `body` with its batch id and the stream's
    * canonical and legacy ids ([[streamIdFor]], [[legacyStreamIdFor]]),
    * derived once per run. The exactly-once guard stays in each batch
    * function: they are also called directly (replays, the daily
    * increment), and the corpus admit checks layout before the guard. */
  private[graft] def availableNow(source: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long, String, String) => Unit): StreamingQuery = {
    val streamId = streamIdFor(checkpointDir,
      source.sparkSession.sessionState.newHadoopConf())
    val legacyId = legacyStreamIdFor(checkpointDir)
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId, streamId, legacyId)
      }
      .start()
  }

  /** Streaming extraction INTO the manifest table — the incremental
    * production ingest: each micro-batch appends its parquet files under
    * `data/bucket=K`, scans EXACTLY those files for stats (the same
    * accumulator-free at-rest pattern as the batch job), and commits ONE
    * snapshot per batch that MERGES the previous bucket states — rows
    * accumulate, the watermark advances to the max doc_id, file lineage
    * appends. Exactly-once across restarts: Structured Streaming can only
    * re-deliver the LAST batch after a crash, and a batch whose run id is
    * already HEAD is skipped; files from a crash BETWEEN write and commit
    * are never referenced (the pre/post listing diff excludes them — they
    * age out via Manifest.removeOrphans, same argument as the batch job).
    * Readers see atomic snapshot-by-snapshot growth via Manifest.readData.
    */
  def runExtractWithManifest(
      spark: SparkSession, inDir: String, tableDir: String,
      checkpointDir: String, schemaFrom: DataFrame): StreamingQuery =
    availableNow(extractStream(spark, inDir, schemaFrom), checkpointDir)(
      commitBatch(_, _, tableDir, _, _))

  /** Stream identity for the exactly-once watermark: micro-batch ids are
    * monotone only within one checkpoint lineage, so a fresh checkpoint
    * dir (restarting numbering at 0) must get a fresh watermark key. The
    * location is CANONICALIZED first (qualified scheme + absolute path via
    * the dir's own FileSystem) — the same checkpoint dir spelled
    * differently across restarts (relative vs absolute, trailing slash,
    * scheme prefix) must map to the same id, or the re-delivery guard is
    * silently bypassed for the last batch. The SESSION Hadoop conf is
    * required — a bare Configuration would mis-resolve filesystems that
    * are configured only through spark.hadoop.* settings. */
  private[graft] def streamIdFor(checkpointDir: String,
      conf: org.apache.hadoop.conf.Configuration): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    val canonical = p.getFileSystem(conf).makeQualified(p).toUri.toString
    "ckpt-" + java.util.UUID.nameUUIDFromBytes(
      canonical.getBytes("UTF-8")).toString.take(8)
  }

  /** The PRE-canonicalization watermark key (raw checkpoint string) — kept
    * so tables committed by the older derivation upgrade without a replay
    * window: the exactly-once guard accepts EITHER key; new commits write
    * only the canonical one. (Without this, restarting over an old table
    * re-keys the stream and the last committed batch would be re-admitted
    * once — the old key's watermark would be ignored.) */
  private[graft] def legacyStreamIdFor(checkpointDir: String): String =
    "ckpt-" + java.util.UUID.nameUUIDFromBytes(
      checkpointDir.getBytes("UTF-8")).toString.take(8)

  /** Exactly-once re-delivery guard over the snapshot's per-stream
    * watermarks, checking the canonical key and (for tables last written
    * by the pre-canonicalization derivation) the legacy raw-path key. */
  private[graft] def isRedelivered(prev: Option[graft.Manifest.Snapshot],
      streamId: String, legacyStreamId: String, batchId: Long): Boolean =
    prev.exists { s =>
      s.streamWatermarks.getOrElse(streamId,
        s.streamWatermarks.getOrElse(legacyStreamId, -1L)) >= batchId
    }

  private[graft] def commitBatch(batch: DataFrame, batchId: Long,
      tableDir: String, streamId: String,
      legacyStreamId: String = ""): Unit = {
    val spark = batch.sparkSession
    val runId = f"stream-batch-$batchId%06d"
    val table = new graft.Manifest(tableDir, spark.sessionState.newHadoopConf())
    val prev = table.head()
    // exactly-once guard: the per-stream batch WATERMARK in the snapshot,
    // not a scan of historical snap files — every commit (including
    // compaction) carries the map forward, so the guard survives both
    // HEAD moving past the batch's snapshot AND snapshot expiry deleting
    // it, at O(1) cost per batch (vs O(#snapshots) file reads)
    if (isRedelivered(prev, streamId, legacyStreamId, batchId))
      return // re-delivered
    val t0 = System.nanoTime()
    val buckets = 0 until graft.DocGen.NumBuckets
    val tx = table.txn(spark, prev, buckets)

    // one shuffle by bucket first: otherwise every task holds rows of every
    // bucket and a micro-batch writes O(tasks × buckets) small files — the
    // snapshot JSON and every downstream scan pay for it until compaction
    batch.repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$tableDir/data")

    val written = buckets.flatMap(tx.fresh)
    if (written.isEmpty) return // empty batch: nothing to commit

    val stats = graft.ExtractJob.scanStats(spark, tableDir, written)
    stats.foreach { case (b, st) => tx.append(b, st.wm) }
    tx.commit(runId, streamWatermark = Some(streamId -> batchId))

    // metrics AFTER the commit (same crash contract as the batch job:
    // a missing batch is re-derivable, a duplicated batch is not)
    graft.ExtractJob.writeMetrics(spark, tableDir, runId,
      System.nanoTime() - t0, stats.keys.toSeq.sorted, stats)
  }

  /** Streaming keep-first exact dedup with a state TTL — the custom-state
    * surface (KeyValueGroupedDataset.flatMapGroupsWithState): the FIRST
    * payload per key is emitted and later duplicates are suppressed;
    * within one batch the minimum payload wins (deterministic under
    * shuffle order). At stream scale one flag per EVER-SEEN key grows
    * forever, so retention is finite: state carries its expiry (last
    * sighting + `ttlMs`) and the key re-admits once the EVENT-TIME
    * watermark passes it:
    *
    *  - a key idle past its TTL is timed out (`EventTimeTimeout`) and its
    *    state REMOVED — state size is bounded by keys active within one
    *    retention window;
    *  - a duplicate arriving within the TTL is suppressed and extends the
    *    retention (sliding window over sightings);
    *  - a key reappearing after expiry is emitted again (a re-crawl after
    *    the retention window is new content by definition).
    *
    * Event-time timeout keeps expiry data-driven and deterministic
    * (reproducible tests, replayable streams); swap
    * GroupStateTimeout.ProcessingTimeTimeout for wall-clock retention.
    * Input tuples are (key, payload, eventTime); the watermark is applied
    * here with `watermarkDelay` lateness. */
  def firstSeenTtl(
      kv: Dataset[(String, String, java.sql.Timestamp)],
      ttlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[(String, String)] = {
    import kv.sparkSession.implicits._
    kv.toDF("key", "payload", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[(String, String, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          if (state.hasTimedOut) { // idle past TTL: free the state
            state.remove()
            Iterator.empty
          } else {
            // one streaming pass: min payload (deterministic within-batch
            // winner) + max event time (retention anchor)
            var minPayload: String = null
            var maxTs = Long.MinValue
            rows.foreach { r =>
              if (minPayload == null || r._2 < minPayload) minPayload = r._2
              if (r._3.getTime > maxTs) maxTs = r._3.getTime
            }
            val wm = state.getCurrentWatermarkMs()
            // a key with data is never offered hasTimedOut, so expiry of a
            // REAPPEARING key is checked against the stored deadline
            val expired = state.exists && wm >= state.get
            val suppressed = state.exists && !expired
            val out =
              if (suppressed) Iterator.empty
              else Iterator.single((key, minPayload))
            // monotone deadline: a late-arriving duplicate (older event
            // time, within watermarkDelay) must EXTEND retention, never
            // shrink it — take the max with the stored deadline when
            // suppressing, reset only on (re-)admission
            val expiry =
              if (suppressed) math.max(state.get, maxTs + ttlMs)
              else maxTs + ttlMs
            state.update(expiry)
            // the engine rejects timeouts at/behind the watermark
            state.setTimeoutTimestamp(math.max(expiry, wm + 1))
            out
          }
      }
  }

  /** Manifest bucket namespaces of the indexed corpus table, parameterized
    * by `corpusBuckets` (N):
    *
    *  - buckets `0 .. N-1`: corpus rows, sharded by [[corpusBucketOf]]
    *    (a deterministic md5 hash of the id) — the id-sub-bucketed layout
    *    that lets per-batch candidate TEXT resolution partition-prune to
    *    the candidates' buckets instead of scanning the whole corpus;
    *  - bucket `N` ([[indexBucketFor]]): the [[graft.ops.Dedup.buildIndex]]
    *    rows (hashes + banded signatures — ONE namespace: the index is
    *    narrow and read whole every batch by design);
    *  - bucket `N+1` ([[metricsBucketFor]]): one admission-metrics row per
    *    committed micro-batch (batch_id, input_rows, admitted,
    *    exact_dropped, near_dropped, poisoned) — committed in the SAME
    *    snapshot as the data, so metrics can never claim a batch whose
    *    rows are not visible (the O14 analog for ingestion).
    *
    *  - bucket `N+2` ([[heatBucketFor]], OPTIONAL — present when the
    *    stream runs with a `heatCol`): per-batch Count-Min heat sketches,
    *    merged cell-wise at read time ([[readHeatSketch]]).
    *
    * `corpusBuckets = 1` (the default) reproduces the original layout:
    * corpus in bucket 0, index in bucket 1. Readers:
    * [[readCorpus]] / [[readIndex]] / [[readAdmissionMetrics]], or
    * `new Manifest(tableDir).readData(spark, Some(Set(...)))` directly. */
  val CorpusBucket = 0
  val IndexBucket = 1
  def indexBucketFor(corpusBuckets: Int): Int = corpusBuckets
  def metricsBucketFor(corpusBuckets: Int): Int = corpusBuckets + 1

  /** Bucket `N+2` (optional): per-batch Count-Min heat sketches over a
    * caller-named INPUT column (e.g. domain) — the running frequency view
    * of what the stream is being FED, duplicates included (a hot domain
    * flooding ingest is operational signal even when dedup drops it).
    * Each batch appends its own sparse (r, c, n) cells; the running
    * sketch is their cell-wise sum ([[graft.ops.Cms.merge]]'s identity
    * makes append-only commits sufficient — no read-modify-write), read
    * back via [[readHeatSketch]]. Sketch geometry is stamped into every
    * snapshot ([[HeatDepthKey]]/[[HeatWidthKey]]) and checked on restart:
    * cells of mismatched geometry would sum into silent garbage. */
  def heatBucketFor(corpusBuckets: Int): Int = corpusBuckets + 2
  private[graft] val HeatDepthKey = "__cms:depth"
  private[graft] val HeatWidthKey = "__cms:width"

  /** Reserved watermark-map key stamping the table's `corpusBuckets`
    * layout into every snapshot (carried forward verbatim by commits AND
    * compaction, like the streaming watermark). Without the stamp, a table
    * written with N=4 and reopened with the default N=1 would silently
    * misread bucket namespaces: 3/4 of the corpus invisible to dedup and
    * corpus bucket 1 parsed as index rows. The `__` prefix cannot collide
    * with stream ids ([[streamIdFor]] emits hex digests). */
  private[graft] val LayoutKey = "__layout:corpus_buckets"

  /** The one layout-stamp check: fail fast when the stamp `key` of
    * snapshot `snap` disagrees with the value of `param` the table at
    * `tableDir` is opened with — the corpus tables' [[LayoutKey]] and heat
    * geometry, the vector-index tables' [[VectorIndexStream.LayoutKey]].
    * Tables committed before a stamp existed carry no entry and are
    * accepted as-is (one-time upgrade window; the next commit stamps the
    * value then in use). */
  private[graft] def requireLayout(snap: graft.Manifest.Snapshot, key: String,
      param: String, opened: Int, tableDir: String): Unit =
    snap.streamWatermarks.get(key).foreach { n =>
      require(n == opened.toLong,
        s"table at $tableDir was written with $param=$n but opened with " +
          s"$param=$opened (layout stamp $key) — its buckets would be misread")
    }

  private def requireCorpusLayout(snap: graft.Manifest.Snapshot,
      corpusBuckets: Int, tableDir: String): Unit =
    requireLayout(snap, LayoutKey, "corpusBuckets", corpusBuckets, tableDir)

  /** Snapshot `asOf` (else HEAD) of the table at `tableDir`, resolved
    * once — the one snapshot a namespace reader checks the layout stamp
    * `key` of ([[requireLayout]]) and reads. */
  private[graft] def open(spark: SparkSession, tableDir: String, asOf: Option[Int],
      key: String, param: String, opened: Int): (graft.Manifest, graft.Manifest.Snapshot) = {
    val m = new graft.Manifest(tableDir, spark.sessionState.newHadoopConf())
    val snap = m.resolve(asOf)
    requireLayout(snap, key, param, opened, tableDir)
    (m, snap)
  }

  /** The id→corpus-bucket function of the sub-bucketed layout — md5-based
    * (portable, partition-invariant, no seed state; same hash family as
    * [[graft.ops.Sampling.hashBp]]). This SAME function must be used by
    * writer and candidate-pruning reader — the contract pinned at
    * [[graft.ops.Dedup.incrementalDedupIndexed]]'s `pruneBucket` doc. */
  def corpusBucketOf(corpusBuckets: Int)(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 15), 16, 10).cast("bigint"),
      lit(corpusBuckets)).cast("int")

  private def openCorpus(spark: SparkSession, tableDir: String, corpusBuckets: Int) =
    open(spark, tableDir, None, LayoutKey, "corpusBuckets", corpusBuckets)

  private def readNamespace(spark: SparkSession, tableDir: String,
      corpusBuckets: Int, buckets: Set[Int]): DataFrame = {
    val (m, snap) = openCorpus(spark, tableDir, corpusBuckets)
    m.read(spark, snap, Some(buckets)).drop("bucket")
  }

  /** Committed corpus rows across all corpus sub-buckets (bucket column
    * dropped). */
  def readCorpus(spark: SparkSession, tableDir: String,
      corpusBuckets: Int = 1): DataFrame =
    readNamespace(spark, tableDir, corpusBuckets, (0 until corpusBuckets).toSet)

  /** Committed dedup-index rows. */
  def readIndex(spark: SparkSession, tableDir: String,
      corpusBuckets: Int = 1): DataFrame =
    readNamespace(spark, tableDir, corpusBuckets, Set(indexBucketFor(corpusBuckets)))

  /** Per-micro-batch admission metrics (batch_id, input_rows, admitted,
    * exact_dropped, near_dropped, poisoned), one row per committed batch. */
  def readAdmissionMetrics(spark: SparkSession, tableDir: String,
      corpusBuckets: Int = 1): DataFrame =
    readNamespace(spark, tableDir, corpusBuckets, Set(metricsBucketFor(corpusBuckets)))

  /** The MERGED running heat sketch of a table written with a `heatCol`:
    * cell-wise sum of every committed batch's sketch — feed it to
    * [[graft.ops.Cms.estimate]] with the SAME (depth, width) the stream
    * ran with (the stamped geometry is validated here). */
  def readHeatSketch(spark: SparkSession, tableDir: String,
      heatDepth: Int = HeatDepthDefault, heatWidth: Int = HeatWidthDefault,
      corpusBuckets: Int = 1): DataFrame = {
    val (m, snap) = openCorpus(spark, tableDir, corpusBuckets)
    // presence first: a table whose stream never ran with heatCol has no
    // geometry stamps (the check below passes vacuously) and no heat
    // bucket — without this the read fails later with an unresolved-
    // column error against the corpus schema, pointing at the wrong layer
    require(snap.streamWatermarks.contains(HeatDepthKey),
      s"no heat sketch committed at $tableDir — the stream ran without " +
        "heatCol (re-run runIndexedCorpusStream with heatCol to record one)")
    requireHeatGeometry(snap, heatDepth, heatWidth, tableDir)
    m.read(spark, snap, Some(Set(heatBucketFor(corpusBuckets)))).drop("bucket")
      .groupBy(col("r"), col("c")).agg(sum(col("n")).as("n"))
  }

  val HeatDepthDefault = 4
  val HeatWidthDefault = 1024

  // mismatched sketch cells would sum into garbage
  private def requireHeatGeometry(snap: graft.Manifest.Snapshot,
      heatDepth: Int, heatWidth: Int, tableDir: String): Unit = {
    requireLayout(snap, HeatDepthKey, "heatDepth", heatDepth, tableDir)
    requireLayout(snap, HeatWidthKey, "heatWidth", heatWidth, tableDir)
  }

  /** Heat-sketch PRESENCE must be stable across restarts: the geometry
    * check alone passes vacuously when one side has no stamps, so a
    * stream resumed WITHOUT `heatCol` over a heat-carrying table would
    * silently stop recording arrivals (the merged sketch UNDERCOUNTS —
    * the one error direction Count-Min promises never to make), and
    * enabling `heatCol` mid-life would serve a sketch missing every
    * prior batch. Both are loud errors; heat starts at table creation
    * or the table is rebuilt. */
  private def requireHeatPresence(snap: Option[graft.Manifest.Snapshot],
      heatCol: Option[String], tableDir: String): Unit = {
    val stamped = snap.exists(_.streamWatermarks.contains(HeatDepthKey))
    if (heatCol.isEmpty) require(!stamped,
      s"table at $tableDir carries a heat sketch but the stream was " +
        "reopened without heatCol — arrivals would silently go unrecorded " +
        "and readHeatSketch would UNDERCOUNT; reopen with the original " +
        "heatCol and geometry, or start a new table")
    else require(stamped || snap.isEmpty,
      s"enabling heatCol on the existing table at $tableDir would serve " +
        "a sketch missing every batch committed so far; start heat at " +
        "table creation or rebuild the table")
  }

  /** Streaming corpus construction with CROSS-BATCH dedup through the
    * PERSISTED dedup index and the snapshot manifest: every micro-batch is
    * deduped against the corpus committed so far (exact hash, LSH near-dup
    * vs corpus, within-batch clusters with corpus-match poisoning) without
    * re-hashing and re-signaturing the whole accumulated corpus — O(corpus)
    * per batch on a corpus that grows forever:
    *
    *  - table layout: `<tableDir>/data/bucket=0` = corpus rows,
    *    `bucket=1` = index rows (content hashes + banded signatures);
    *  - each micro-batch admits against the COMMITTED corpus through the
    *    COMMITTED index ([[graft.ops.Dedup.incrementalDedupIndexed]] —
    *    the corpus text is only touched to resolve near-dup candidates),
    *    appends the admitted rows AND their index rows, and commits BOTH
    *    bucket states in ONE snapshot: corpus and index cannot desync
    *    across any crash. Files written before a crash are unreferenced
    *    orphans (readData plans from the snapshot, never a listing; GC
    *    via Manifest.removeOrphans), and the re-delivered batch is
    *    guarded by the per-stream batch watermark exactly as
    *    [[runExtractWithManifest]];
    *  - per-batch corpus-side cost: one narrow index scan (bands hash
    *    rows/doc) + candidate text resolution — flat in corpus TEXT
    *    width (IncrBench splits the terms).
    */
  def runIndexedCorpusStream(spark: SparkSession, inDir: String,
      tableDir: String, checkpointDir: String, schemaFrom: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.7, k: Int = 8, bands: Int = 4,
      corpusBuckets: Int = 1, heatCol: Option[String] = None,
      heatDepth: Int = HeatDepthDefault,
      heatWidth: Int = HeatWidthDefault): StreamingQuery =
    availableNow(files(spark, inDir, schemaFrom, 1), checkpointDir) {
      (batch, batchId, streamId, legacyId) =>
        admitIndexedBatch(batch, batchId, tableDir, streamId,
          idCol, textCol, threshold, k, bands, corpusBuckets, legacyId,
          heatCol, heatDepth, heatWidth)
    }

  /** The admission plan of one micro-batch against the corpus committed
    * in snapshot `committed` of `table` (None: an empty corpus — bootstrap
    * with the batch's schema, no pruning) — factored out so tests can
    * assert its physical shape (the corpus scan must carry the sub-bucket
    * partition `IN` filter) on exactly the plan the stream runs. Returns
    * the full [[graft.ops.Dedup]] outcome; the corpus text is only reached
    * through the candidates' sub-buckets. */
  private[graft] def admissionOutcome(spark: SparkSession, batch: DataFrame,
      table: graft.Manifest, committed: Option[graft.Manifest.Snapshot],
      idCol: String, textCol: String, threshold: Double, k: Int, bands: Int,
      corpusBuckets: Int): graft.ops.Dedup.IncrementalOutcome = {
    val (corpus, index, prune) = committed match {
      case Some(snap) =>
        // the corpus keeps its `bucket` partition column: pruneBucket
        // computes the candidates' bucket values with the SAME hash the
        // writer used and the scan gets a partition IN filter — per-batch
        // candidate text resolution reads only the candidates' sub-buckets
        (table.read(spark, snap, Some((0 until corpusBuckets).toSet)),
          table.read(spark, snap, Some(Set(indexBucketFor(corpusBuckets)))).drop("bucket"),
          Some(("bucket", corpusBucketOf(corpusBuckets) _)))
      case None =>
        (batch.limit(0),
          graft.ops.Dedup.buildIndex(batch.limit(0), idCol, textCol, k, bands),
          None)
    }
    graft.ops.Dedup.incrementalDedupIndexedOutcome(
      batch, corpus, index, idCol, textCol, k, bands, threshold,
      pruneBucket = prune)
  }

  private[graft] def admitIndexedBatch(batch: DataFrame, batchId: Long,
      tableDir: String, streamId: String, idCol: String, textCol: String,
      threshold: Double, k: Int, bands: Int, corpusBuckets: Int = 1,
      legacyStreamId: String = "", heatCol: Option[String] = None,
      heatDepth: Int = HeatDepthDefault,
      heatWidth: Int = HeatWidthDefault): Unit =
    admitOn(new graft.Manifest(tableDir, batch.sparkSession.sessionState.newHadoopConf())
        .head(), batch, batchId, tableDir, streamId, idCol, textCol, threshold, k,
      bands, corpusBuckets, legacyStreamId, heatCol, heatDepth, heatWidth)

  /** [[admitIndexedBatch]] planned from `prev`, the HEAD of the table at
    * `tableDir` the caller resolved: every check, read and the commit of
    * the admission use that one snapshot. */
  private[graft] def admitOn(prev: Option[graft.Manifest.Snapshot], batch: DataFrame,
      batchId: Long, tableDir: String, streamId: String, idCol: String,
      textCol: String, threshold: Double, k: Int, bands: Int, corpusBuckets: Int,
      legacyStreamId: String, heatCol: Option[String], heatDepth: Int,
      heatWidth: Int): Unit = {
    val spark = batch.sparkSession
    require(corpusBuckets >= 1, s"corpusBuckets must be >= 1, got $corpusBuckets")
    require(!batch.columns.contains("bucket"),
      "corpus schema must not carry a 'bucket' column (manifest partition name)")
    val table = new graft.Manifest(tableDir, spark.sessionState.newHadoopConf())
    // layout + sketch presence/geometry checks BEFORE the redelivery
    // guard: a mis-opened table must fail loudly even on a batch that
    // would otherwise be skipped
    prev.foreach(requireCorpusLayout(_, corpusBuckets, tableDir))
    requireHeatPresence(prev, heatCol, tableDir)
    if (heatCol.isDefined) prev.foreach(requireHeatGeometry(_, heatDepth, heatWidth, tableDir))
    if (isRedelivered(prev, streamId, legacyStreamId, batchId))
      return // re-delivered
    // bootstrap when the corpus is EMPTY, not merely when no snapshot
    // exists: a first batch that admitted zero rows commits a snapshot
    // whose corpus buckets carry no files, and a manifest read of a
    // fileless selection cannot produce the corpus schema
    val committed = prev.filter(
      _.buckets.filter(_.bucket < corpusBuckets).map(_.rows).sum > 0L)
    val outcome = admissionOutcome(spark, batch, table, committed,
      idCol, textCol, threshold, k, bands, corpusBuckets)
    // admitted feeds three consumers (corpus write, index rows, stats) —
    // pinned lazily: compute-once caching, materialized by the first
    // consuming job below instead of an eager job of its own
    val admitted = graft.Pin(outcome.admitted)
    // the admitted rows' index rows were already built for the LSH pass:
    // buildIndex is per-row and admitted ⊆ exactSurvivors, so the semi
    // join IS buildIndex(admitted) without a second signature pass
    // (null-safe: an admitted null id keeps its index rows, as before).
    // The ids are batch-bounded: broadcast them so the join shuffles nothing
    val idxDelta = outcome.deltaIndex.join(
      broadcast(admitted.select(col(idCol).as("__aid"))),
      outcome.deltaIndex(idCol) <=> col("__aid"), "left_semi")

    val ixBucket = indexBucketFor(corpusBuckets)
    val mBucket = metricsBucketFor(corpusBuckets)
    val cBuckets = 0 until corpusBuckets

    val hBucket = heatBucketFor(corpusBuckets)
    val touched = (cBuckets :+ ixBucket :+ mBucket) ++ heatCol.map(_ => hBucket)
    val tx = table.txn(spark, prev, touched)

    // INDEPENDENT actions overlap (optimization guide §2.6): the corpus /
    // index / heat writes target disjoint directories of the table, and
    // the admission counts run over checkpointed batch-sized frames — the
    // driver submits them all concurrently on graft.Par lanes so one job's
    // task tail back-fills with the next job's work instead of serializing
    // ~8 round trips. Every write lands before the Txn's post-write
    // listing diff below. Concurrent first-touch of a lazily-checkpointed
    // frame is safe: the block manager's per-partition load locks make
    // one thread compute while the rest wait on the cached block.
    val writes: Seq[() => Unit] = Seq(
      // shuffle by sub-bucket before the partitioned write (one file per
      // touched sub-bucket per batch instead of O(tasks × corpusBuckets) —
      // a daily-ingest stream runs thousands of batches between compactions)
      () => admitted.withColumn("bucket", corpusBucketOf(corpusBuckets)(col(idCol)))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$tableDir/data"),
      () => idxDelta.write.mode("append").parquet(s"$tableDir/data/bucket=$ixBucket")) ++
      // heat sketch over the INPUT batch (duplicates included — arrival
      // heat is operational signal even when dedup drops the rows);
      // append-only: the running sketch is the cell-wise sum at read time
      heatCol.map(hc => () => graft.ops.Cms.build(batch.select(col(hc).as("key")), "key",
          heatDepth, heatWidth)
        .coalesce(1).write.mode("append").parquet(s"$tableDir/data/bucket=$hBucket"))
    // admission metrics — counts over batch-sized checkpointed frames
    // (poisoned falls out of the outcome identity; see IncrementalOutcome)
    // (lanes start writes first, as the jobs always have: the first job to
    // touch the lazily pinned `admitted` is the one that computes it)
    val (_, (Seq(nInput, nExactSurv, nDirect), wm)) = graft.Par.par2(
      () => graft.Par.par(writes),
      () => graft.Par.par2(
        () => graft.Par.par(Seq(() => batch.count(), () => outcome.exactSurvivors.count(),
          () => outcome.directDrops.count())),
        () => Option(admitted.agg(max(col(idCol).cast("string"))).head().getString(0))
          .getOrElse("")))

    // the admitted count comes from the fresh corpus files' own FOOTERS
    // (metadata plane, exact by construction) — no count() job
    val nAdm = tx.rows(cBuckets)

    val metricsRow = {
      import spark.implicits._
      Seq((batchId, nInput, nAdm, nInput - nExactSurv, nDirect,
        nExactSurv - nAdm - nDirect))
        .toDF("batch_id", "input_rows", "admitted", "exact_dropped",
          "near_dropped", "poisoned")
    }
    metricsRow.coalesce(1).write.mode("append")
      .parquet(s"$tableDir/data/bucket=$mBucket")
    // ONE commit covers corpus sub-buckets + index + metrics + the
    // exactly-once watermark; even an all-duplicates batch commits (the
    // watermark must advance or the re-delivery guard would replay it
    // forever — and its metrics row records the all-dropped decision).
    // Untouched corpus sub-buckets are still committed (rows += 0, no new
    // files) so bucket states never go stale relative to the watermark.
    touched.foreach(tx.append(_, wm))
    tx.commit(f"corpus-batch-$batchId%06d",
      streamWatermark = Some(streamId -> batchId),
      extraWatermarks = Map(LayoutKey -> corpusBuckets.toLong) ++
        (if (heatCol.isDefined)
          Map(HeatDepthKey -> heatDepth.toLong, HeatWidthKey -> heatWidth.toLong)
        else Map.empty))
  }

  /** Right-to-be-forgotten for the indexed corpus table: copy-on-write
    * delete of `ids` from BOTH the corpus rows and their dedup-index rows
    * in ONE snapshot commit ([[graft.ExtractJob.deleteByKey]] does the
    * rewrite; this wrapper adds the layout awareness). The blast radius is
    * the ids' own corpus sub-buckets — computed with the SAME
    * [[corpusBucketOf]] hash the writer used — plus the index bucket;
    * every other bucket keeps its files untouched.
    *
    * FORGET SEMANTICS, deliberately: dropping the index rows means a
    * future crawl of the same text is judged fresh and RE-ADMITTED. That
    * is what deletion means — the pipeline has no memory of content it was
    * ordered to forget (a "remember-but-suppress" tombstone would itself
    * retain a fingerprint of the forgotten text). StreamingSpec pins the
    * re-admission.
    *
    * Retention: like every manifest delete, the bytes survive in orphaned
    * files and pinned snapshots until `expireSnapshots` + `removeOrphans`
    * run — the wrapper deletes from HEAD; maintenance scrubs history. */
  def deleteDocs(spark: SparkSession, tableDir: String, ids: DataFrame,
      idCol: String = "doc_id", corpusBuckets: Int = 1): graft.Manifest.Snapshot = {
    val table = new graft.Manifest(tableDir, spark.sessionState.newHadoopConf())
    val snap = table.head()
    snap.foreach(requireCorpusLayout(_, corpusBuckets, tableDir))
    // candidate sub-buckets from the ids themselves (bounded by the
    // layout's bucket count — a config-sized collect)
    val cand = ids.select(corpusBucketOf(corpusBuckets)(col(idCol)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    graft.ExtractJob.deleteByKeyOn(spark, tableDir, snap, ids, idCol,
      Some(cand + indexBucketFor(corpusBuckets)))
  }

  /** Reshard the indexed corpus table from its committed `from` layout to
    * `to` corpus sub-buckets — the migration path [[requireCorpusLayout]]'s
    * fail-fast otherwise forecloses (a table started at corpusBuckets=1
    * would be stuck with O(corpus) candidate resolution forever; a table
    * over-sharded early pays per-batch small files forever).
    *
    * Every namespace is physically rewritten into its new bucket id with
    * compact()'s append-then-commit pattern — corpus rows re-hashed by
    * [[corpusBucketOf]](to), index/metrics/heat rows moved verbatim to
    * their shifted ids — and ONE commit swaps the whole layout: the
    * snapshot's bucket ids always equal the directory partition values
    * (the invariant compaction's fresh-file diff and the pruning
    * contract both rely on), stream watermarks carry forward (the
    * exactly-once guard survives, so the resumed stream skips re-delivered
    * batches), and the layout stamp is OVERWRITTEN to `to` (verbatim, not
    * max-merged — downsharding is legal). Old files become GC-able
    * orphans; pinned pre-reshard snapshots keep reading their exact files.
    *
    * Corpus-bucket watermarks after the reshard are the max over the old
    * corpus watermarks (rows moved between buckets; the per-bucket
    * high-water mark stays monotone by taking the union bound). */
  def reshardCorpus(spark: SparkSession, tableDir: String, to: Int,
      from: Int = 1, idCol: String = "doc_id"): graft.Manifest.Snapshot = {
    require(to >= 1, s"target corpusBuckets must be >= 1, got $to")
    val table = new graft.Manifest(tableDir, spark.sessionState.newHadoopConf())
    val prev = table.head().getOrElse(throw new IllegalStateException(
      s"nothing to reshard at $tableDir"))
    requireCorpusLayout(prev, from, tableDir)
    require(to != from, s"table already has corpusBuckets=$from")
    val states = prev.buckets.map(b => b.bucket -> b).toMap
    val corpusWm = (0 until from)
      .flatMap(states.get).map(_.watermarkDocId).foldLeft("")((a, b) => Seq(a, b).max)

    // index / metrics / heat move verbatim to their shifted ids; old ids
    // not reused by the new layout zero out (rows=0, no files) so a reader
    // of the new snapshot can never resolve stale namespaces
    val moves = Seq[Int => Int](indexBucketFor, metricsBucketFor, heatBucketFor)
      .map(f => (f(from), f(to))).filter(m => states.contains(m._1))
    val newCorpus = 0 until to
    val stale = states.keySet.diff(newCorpus.toSet ++ moves.map(_._2)).toSeq.sorted
    val tx = table.txn(spark, Some(prev), newCorpus ++ moves.map(_._2) ++ stale)

    // corpus rows: re-hash into the new sub-buckets (one shuffle by the
    // new bucket, exactly the admit path's write shape)
    val oldCorpus = (0 until from).filter(b => states.get(b).exists(_.files.nonEmpty))
    val corpusRows = (0 until from).flatMap(states.get).map(_.rows).sum
    // (a corpus whose rows widened across commits reads, and so reshards,
    // with every column: the manifest's read schema is the merged one)
    if (oldCorpus.nonEmpty)
      table.read(spark, prev, Some(oldCorpus.toSet)).drop("bucket")
        .withColumn("bucket", corpusBucketOf(to)(col(idCol)))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(s"$tableDir/data")
    // per-new-bucket rows from the FRESH files' own footers (pure metadata
    // reads — the writer's footers already carry the counts, so no scan
    // job runs at all)
    val resharded = tx.rows(newCorpus)
    require(resharded == corpusRows,
      s"reshard row conservation failed: $corpusRows in, $resharded out")

    // each namespace is physically rewritten so the snapshot bucket id
    // always equals the directory partition value (compaction's fresh-file
    // diff and the pruning contract both rely on that invariant); the
    // three moves are independent rewrites of disjoint bucket directories
    // — overlap them (guide §2.6)
    graft.Par.par(moves.filter(m => states(m._1).files.nonEmpty).map { case (o, n) => () =>
      table.read(spark, prev, Some(Set(o))).drop("bucket")
        .coalesce(states(o).files.length)
        .write.mode("append").parquet(s"$tableDir/data/bucket=$n")
    })

    // the commit re-derives id zone maps for every rewritten file, so a
    // reshard never DEGRADES a stats-pruned table (the compact /
    // deleteByKey contract); namespaces without the stat column record none
    newCorpus.foreach(tx.replace(_, corpusWm))
    moves.foreach { case (o, n) => tx.replace(n, states(o).watermarkDocId) }
    stale.foreach(b => tx.replace(b, states(b).watermarkDocId))
    tx.commit(s"reshard-$from-to-$to",
      overwriteWatermarks = Map(LayoutKey -> to.toLong))
  }

  /** Watermarked tumbling-window counts per event_type over a timestamped
    * event stream (schema: ts timestamp, event_type string, value double). */
  def eventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count("*").as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("total"))
}
