package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The distributed extraction core (SURVEY.md §3.4, §7.3 M1).
  *
  * One native `extract_spans` projection ([[plans.ExtractExpression]])
  * between column-algebra DataFrame stages: the rule set (config, not
  * data) ships inside the plan and compiles once per task; each document
  * flows through dispatch → classify → media-link exactly as in qetch's
  * `extract()` (qetch/extractors/_common.py::BaseExtractor.extract), but
  * over partitions of a table instead of one URL at a time.
  *
  * Scale design:
  *  - `repartitionByRange(buckets, $"bucket", $"doc_id")` is the single
  *    Exchange; bucket is the checkpoint/lineage unit (SURVEY.md §2C) and
  *    doc_id range-ordering keeps partitions balanced (doc_ids are uniform;
  *    domain skew never reaches this shuffle key).
  *  - the projection is fully streaming: no per-partition buffering beyond
  *    the current document (spill-safety at 100 TB, SURVEY.md §4.2).
  *  - metrics are DERIVED FROM DATA AT REST, never from accumulators:
  *    Spark only guarantees exactly-once accumulator semantics inside
  *    actions, so task retries / speculative execution would double-count
  *    metrics emitted from a transformation at cluster scale. One
  *    manifest-planned scan of the freshly committed buckets produces the
  *    metrics side table AND the per-bucket watermarks together.
  */
object ExtractJob {

  /** Pure transform: raw docs → extracted docs, the `extract_spans`
    * expression behind the bucket range exchange. `rules` defaults to the
    * built-in registry; [[backfill]] passes the UPDATED rule set when
    * reprocessing after a registry change (the rule seq is config-sized —
    * it ships in the plan and compiles once per task like the default). */
  def transform(
      docs: Dataset[RawDoc],
      numPartitions: Int = DocGen.NumBuckets,
      rules: Seq[ExtractorRule] = Registry.rules): Dataset[ExtractedDoc] = {
    import docs.sparkSession.implicits._
    plans.GraftFunctions.extractColumnar(
      docs.toDF().repartitionByRange(numPartitions, $"bucket", $"doc_id"), rules)
      .as[ExtractedDoc]
  }

  /** Full job: extract `docs` restricted to `pendingBuckets`, write each
    * bucket idempotently (dynamic partition overwrite), derive metrics +
    * watermarks from the committed files in ONE scan, and commit a new
    * snapshot (with per-bucket file lineage) to the manifest.
    *
    * Idempotence: rerunning a bucket overwrites exactly that bucket's
    * directory, so a crash between write and commit is safe — the manifest
    * is the source of truth (SURVEY.md §7.4, §7.5-2). Pending buckets that
    * receive ZERO documents are still committed (rows=0, empty watermark,
    * no files) so a sparse table converges instead of re-running forever.
    * Rows carry `spans_in`, the raw input span count that makes input-side
    * metrics derivable at rest.
    */
  def run(
      spark: SparkSession,
      docs: Dataset[RawDoc],
      tableDir: String,
      runId: String,
      resume: Boolean = true,
      numPartitions: Int = 0): Manifest.Snapshot =
    runGated(spark, docs, tableDir, runId, _ => true, resume, numPartitions).get

  /** WRITE-AUDIT-PUBLISH extraction (Iceberg's WAP pattern — the data
    * quality gate a production table needs in front of every publish):
    * identical to [[run]] up to the write, but the UNCOMMITTED output —
    * planned from exactly the files this run wrote, never a directory
    * listing — is handed to `audit` BEFORE the snapshot commit. `true` →
    * commit + metrics exactly as [[run]] and the snapshot returns;
    * `false` → NOTHING commits, no reader ever sees a row (the written
    * files stay invisible and age out as ordinary GC-able orphans), and
    * None returns so the caller can alert. An audit that THROWS
    * propagates after the same no-commit guarantee — an auditor crash
    * must never publish unaudited data.
    *
    * The audit frame is the real table schema (bucket materialized), so
    * auditors compose the library's own operators: row floors, span
    * histograms vs a reference profile, Cleaning gates, langIdBulk
    * mixture drift. Resume semantics on a rejected run are [[run]]'s
    * crash semantics: the manifest never learned anything, a rerun
    * re-extracts the same pending buckets and dynamic overwrite replaces
    * the rejected files. A run whose pending buckets receive ZERO rows
    * commits without consulting `audit` (there is no data to gate; the
    * zero-row convergence contract of [[run]] holds). */
  def runGated(
      spark: SparkSession,
      docs: Dataset[RawDoc],
      tableDir: String,
      runId: String,
      audit: DataFrame => Boolean,
      resume: Boolean = true,
      numPartitions: Int = 0): Option[Manifest.Snapshot] = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val table = new Manifest(tableDir, spark.sessionState.newHadoopConf())
    val prev = table.head()
    val completed = prev.filter(_ => resume).toSeq.flatMap(_.buckets.map(_.bucket))
    val allBuckets = (0 until DocGen.NumBuckets).toSet
    val pending = (allBuckets -- completed).toSeq.sorted

    if (pending.isEmpty) return prev

    // partition-pruning filter: with a parquet source partitioned by bucket
    // this prunes directories; with a generated Dataset it's a cheap filter.
    // at real scale a bucket spans MANY partitions (numPartitions ≫ buckets
    // → multiple files per bucket dir; compact() merges them later)
    val pendingDocs = docs.where($"bucket".isin(pending: _*)).as[RawDoc]
    // SCALE-ADAPTIVE default: cap the extraction parallelism at the
    // input's own split count (which the scan already derived from input
    // size via maxPartitionBytes) — a large input still gets one range
    // partition per pending bucket exactly as before, while a small
    // backfill/test slice stops paying 16 fixed-overhead tasks per stage
    // to process a handful of splits. Callers needing more override via
    // numPartitions.
    val parts = if (numPartitions > 0) numPartitions
      else math.max(1, math.min(pending.length, pendingDocs.rdd.getNumPartitions))
    val extracted = transform(pendingDocs, numPartitions = parts).toDF()

    // the Txn lists the pending buckets before the write: dynamic
    // overwrite only replaces directories of partitions PRESENT in the
    // output, so a pending bucket that receives zero rows keeps whatever
    // stale files an earlier (crashed/abandoned) run left there. Lineage
    // must record only files THIS run produced — the Txn's fresh-file diff
    // excludes stale leftovers (they become unreferenced orphans,
    // removable via Manifest.removeOrphans).
    val tx = table.txn(spark, prev, pending)
    extracted
      .write.mode("overwrite")
      // per-write option, NOT session config: a session-wide setting would
      // silently change overwrite semantics of unrelated writes.
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$tableDir/data")

    // lineage: exactly the files this run wrote per pending bucket —
    // recorded in the snapshot and used to PLAN the post-write scan,
    // Iceberg-style, instead of listing the table directory again.
    val newFiles = pending.flatMap(tx.fresh)

    // AUDIT GATE: the uncommitted output, planned from this run's files
    // only — on false, return before ANY manifest/metrics mutation (the
    // files are orphans; on throw, the same guarantee holds by ordering)
    if (newFiles.nonEmpty && !audit(table.readFiles(spark, newFiles)))
      return None

    // ONE scan of the data at rest → metrics side table + watermark — run
    // CONCURRENTLY with the Txn's footer pass (row counts + the per-file
    // id zone maps readers stats-prune by; guide §2.6): the two post-write
    // passes read disjoint byte ranges of the same fresh files (data pages
    // vs footers) and neither depends on the other
    val (stats, _) = Par.par2(
      () => scanStats(spark, tableDir, newFiles), () => tx.rows(pending))
    pending.foreach(b => tx.replace(b, stats.get(b).fold("")(_.wm)))
    val snap = tx.commit(runId)

    // metrics AFTER the commit: a crash before the commit then reruns the
    // buckets — metrics written pre-commit would be appended twice (orphan
    // rows describing an uncommitted snapshot). Post-commit, a snapshot id
    // appears at most once in the side table; the only crash artifact is a
    // MISSING metrics batch, which is re-derivable from data at rest.
    writeMetrics(spark, tableDir, runId, System.nanoTime() - t0, pending, stats)
    Some(snap)
  }

  /** Selective RULE-CHANGE backfill — the reprocessing economics operator.
    * At 100 TB the dominant recurring cost of an extraction pipeline is not
    * the first pass but the re-extractions every registry change forces;
    * recomputing the whole table for a rule that touched 0.1% of documents
    * is the scale failure this operator removes.
    *
    * The affected set is DERIVED from the registry diff, not declared by
    * the caller, and it is derived at SPAN level: the doc-level
    * `extractor` label under-identifies the blast radius (a doc labeled
    * gfyclip still carries spans that an edited albumhost rule
    * canonicalized — dispatch picks one label per doc, but every rule
    * rewrites its own refs in every doc). A changed rule's footprint in
    * the committed table is visible in the refs themselves:
    *
    *  - refs a REMOVED or EDITED rule claimed sit in their OLD canonical
    *    shape (the rule's canonical template with `${group}`s wildcarded);
    *  - refs an ADDED or EDITED rule would NEWLY claim sit RAW (they fell
    *    through to generic passthrough), matching the rule's NEW pattern.
    *
    * ONE scan of the committed table — `exists(spans, media_ref rlike …)`
    * over the two alternations — yields the affected buckets; only those
    * are re-extracted (partition-pruned read of the raw input) under
    * `newRules`, and only their states move in the commit.
    *
    * CONTRACT: rule patterns must identify disjoint ref families across
    * the registry (host-anchored patterns like qetch's handlers do). A
    * pure PRIORITY reorder among overlapping patterns changes which rule
    * claims a ref without changing either rule's text, and is not
    * detected — re-extract in full for that (rare) maintenance case.
    *
    * Write path is APPEND-then-commit (the [[compact]] pattern), NOT
    * dynamic-partition overwrite: new files land beside the old ones, the
    * commit repoints the affected buckets at the fresh files only, and the
    * replaced files become unreferenced orphans ([[Manifest.removeOrphans]]
    * after the GC grace). Readers pinning the pre-backfill snapshot keep
    * scanning exactly the bytes they resolved (time travel across a
    * backfill works), and a crash between write and commit leaves only
    * GC-able orphans — rerunning the backfill converges. An affected
    * bucket is rewritten WHOLE (every doc re-extracted under the new
    * rules, not just the affected ones): bucket states are the unit of
    * lineage, and a partial rewrite would need row-level deletes the
    * file-granular manifest deliberately does not have.
    *
    * Returns the new snapshot; metrics rows for `runId` cover exactly the
    * rewritten buckets (same at-rest derivation and same post-commit crash
    * contract as [[run]]). No-op (identical registries, or a diff whose
    * footprint is absent from the table) returns HEAD unchanged. */
  def backfill(
      spark: SparkSession,
      docs: Dataset[RawDoc],
      tableDir: String,
      runId: String,
      newRules: Seq[ExtractorRule],
      oldRules: Seq[ExtractorRule] = Registry.rules,
      numPartitions: Int = 0): Manifest.Snapshot = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val table = new Manifest(tableDir, spark.sessionState.newHadoopConf())
    val snap = table.head().getOrElse(throw new IllegalStateException(
      s"backfill requires a committed extraction table at $tableDir"))

    // registry diff by rule name
    val oldByName = oldRules.map(r => r.name -> r).toMap
    val newByName = newRules.map(r => r.name -> r).toMap
    val removed = oldRules.filterNot(r => newByName.contains(r.name))
    val added = newRules.filterNot(r => oldByName.contains(r.name))
    val edited = oldRules.filter(r => newByName.get(r.name)
      .exists(n => n.pattern != r.pattern || n.canonical != r.canonical))
    if (removed.isEmpty && added.isEmpty && edited.isEmpty) return snap

    // affected predicate over committed refs: old-canonical shapes of
    // removed/edited rules + new raw patterns of added/edited rules
    val oldShapes = (removed ++ edited).map(r => canonicalShapeRegex(r.canonical))
    val newPats = (added ++ edited.map(r => newByName(r.name))).map(_.pattern)
    val refRegex = (oldShapes ++ newPats).map(p => s"(?:$p)").mkString("|")
    val hit = exists(col("spans"), s => s.getField("media_ref").rlike(refRegex))

    // affected buckets from data at rest: spans + bucket columns only,
    // config-sized result (bounded by the bucket count, never table width)
    val pending = table.read(spark, snap)
      .where(hit)
      .select($"bucket").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (pending.isEmpty) return snap

    val pendingDocs = docs.where($"bucket".isin(pending: _*)).as[RawDoc]
    // same scale-adaptive default as runGated: capped by the input's split count
    val parts = if (numPartitions > 0) numPartitions
      else math.max(1, math.min(pending.length, pendingDocs.rdd.getNumPartitions))
    val extracted = transform(pendingDocs, numPartitions = parts, rules = newRules)

    val tx = table.txn(spark, Some(snap), pending)
    extracted.toDF()
      .write.mode("append")
      .partitionBy("bucket")
      .parquet(s"$tableDir/data")
    val stats = scanStats(spark, tableDir, pending.flatMap(tx.fresh))
    pending.foreach(b => tx.replace(b, stats.get(b).fold("")(_.wm)))
    val out = tx.commit(runId)
    writeMetrics(spark, tableDir, runId, System.nanoTime() - t0, pending, stats)
    out
  }

  /** Regex matching every ref a canonical template can produce: literal
    * segments quoted, `${group}` placeholders wildcarded (non-greedy).
    * Injective enough by construction — the committed refs it must find
    * were PRODUCED by this very template. */
  private[graft] def canonicalShapeRegex(template: String): String = {
    val ph = "\\$\\{[a-zA-Z]+\\}".r
    val sb = new StringBuilder
    var last = 0
    ph.findAllMatchIn(template).foreach { m =>
      if (m.start > last)
        sb.append(java.util.regex.Pattern.quote(template.substring(last, m.start)))
      sb.append(".*?")
      last = m.end
    }
    if (last < template.length)
      sb.append(java.util.regex.Pattern.quote(template.substring(last)))
    sb.toString
  }

  /** Per-bucket stats of freshly written data files: docs, span counts,
    * 10-bin confidence histogram, max-doc_id watermark — ONE at-rest scan
    * planned from the file list (accumulator-free: exactly-once under task
    * retries/speculation). Shared by the batch job and the streaming
    * per-micro-batch commit so the two paths can never drift. */
  final case class BucketStat(docs: Long, spansIn: Long, spansOut: Long,
      hist: Seq[Long], wm: String)

  def scanStats(spark: SparkSession, tableDir: String,
      files: Seq[String]): Map[Int, BucketStat] = {
    import spark.implicits._
    if (files.isEmpty) Map.empty
    else new Manifest(tableDir, spark.sessionState.newHadoopConf()).readFiles(spark, files)
      .groupBy($"bucket")
      .agg(count("*").as("docs"),
        sum($"spans_in").as("spans_in"),
        sum(size($"spans")).as("spans_out"),
        array((0 until 10).map(i =>
          sum(when(least(floor($"confidence" * 10).cast("int"), lit(9)) === i, 1L)
            .otherwise(0L))): _*).as("hist"),
        max($"doc_id").as("wm"))
      .collect()
      .map(r => r.getInt(0) -> BucketStat(r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[Long](4), Option(r.getString(5)).getOrElse("")))
      .toMap
  }

  /** Append the metrics side-table rows for one committed run (call AFTER
    * the snapshot commit — see the crash contract at the call sites). */
  def writeMetrics(spark: SparkSession, tableDir: String, runId: String,
      wallNs: Long, buckets: Seq[Int], stats: Map[Int, BucketStat]): Unit = {
    import spark.implicits._
    val metrics = buckets.map { b =>
      val s = stats.getOrElse(b, BucketStat(0L, 0L, 0L, Vector.fill(10)(0L), ""))
      PartitionMetrics(runId, b, s.docs, s.spansIn, s.spansOut, wallNs, s.hist)
    }
    spark.createDataset(metrics).write.mode("append").parquet(s"$tableDir/metrics")
  }

  /** Small-file compaction (Iceberg-style rewrite): buckets with more than
    * `targetFilesPerBucket` data files are rewritten — read via the
    * manifest, hash-repartitioned so each bucket lands in one task, written
    * as NEW files APPENDED beside the old ones — then a new snapshot is
    * committed pointing at the new files only, and the old files (now
    * orphans) are garbage-collected.
    *
    * Crash safety comes from never deleting in place: before the commit the
    * old snapshot still references only the old files (the appended new
    * ones are invisible orphans); after the commit the old files are
    * unreferenced orphans. compact() itself DELETES NOTHING — a reader that
    * resolved HEAD before the commit may still be mid-scan over the old
    * files (the Manifest contract lets any number of readers pin a resolved
    * snapshot), so GC is a separate maintenance step: call
    * [[Manifest.removeOrphans]] later, once no reader can still pin the
    * pre-compaction snapshot (a grace period ≥ the longest reader, or a
    * reader-quiescent window). readData never observes a missing file.
    *
    * `only` restricts the rewrite to a bucket subset. One compact() call
    * reads every bucket it touches in ONE scan, so all touched buckets
    * must share a schema — for tables whose bucket ids namespace
    * DIFFERENT relations (the indexed corpus stream: bucket 0 = corpus
    * rows, bucket 1 = index rows), compact each namespace separately:
    * `compact(spark, dir, only = Some(Set(0)))` then `Some(Set(1))`.
    * Every commit (compaction included) carries the per-stream batch
    * watermarks forward, so the streaming exactly-once guard survives.
    *
    * `cluster` (non-empty) turns the rewrite into a Z-ORDER layout pass —
    * the Delta/Iceberg `OPTIMIZE ZORDER` analog for manifest tables: rows
    * are range-exchanged on (bucket, [[graft.ops.Zorder.zorderKey]] of the
    * quantized `cluster` expressions at `clusterBits` bits each) and sorted
    * within tasks, so every rewritten file covers an axis-aligned rectangle
    * of the clustered dimensions and its parquet min/max footer prunes
    * scans on EVERY one of them ([[graft.ops.Zorder]] has the rationale and
    * the measured single-column-vs-z comparison). Because clustering is a
    * layout change, not just a small-file merge, EVERY non-empty selected
    * bucket is rewritten regardless of its file count, and
    * `targetFilesPerBucket` becomes a per-bucket AVERAGE: the range
    * exchange splits by data volume (balanced file SIZES — what a 100 TB
    * table wants), not by a fixed per-bucket quota. The in-task (bucket, z)
    * sort deliberately leads with the partition column: the dynamic-
    * partition writer's required ordering is then already satisfied, so no
    * second sort runs and the z order inside each written file survives. */
  def compact(
      spark: SparkSession,
      tableDir: String,
      targetFilesPerBucket: Int = 1,
      only: Option[Set[Int]] = None,
      cluster: Seq[Column] = Nil,
      clusterBits: Int = 10): Manifest.Snapshot = {
    import spark.implicits._
    val table = new Manifest(tableDir, spark.sessionState.newHadoopConf())
    val snap = table.head().getOrElse(
      throw new IllegalStateException(s"nothing to compact at $tableDir"))
    val fat = snap.buckets.filter(b => only.forall(_.contains(b.bucket)) &&
      (if (cluster.nonEmpty) b.files.nonEmpty
       else b.files.length > targetFilesPerBucket))
    if (fat.isEmpty) return snap
    // fail FAST on mixed schemas: one combined scan over buckets that
    // namespace different relations would silently null-fill one side and
    // commit the corruption (then GC deletes the originals). Each bucket's
    // merged schema, from one footer pass; a doc comment is not a guard.
    // A bucket that widened across commits is one schema and rewrites with
    // every column.
    require(Manifest.bucketSchemas(spark, fat).distinct.size <= 1,
      s"compact: buckets ${fat.map(_.bucket).mkString(",")} carry different " +
        "schemas — compact each namespace separately via only=Some(...)")

    val fatIds = fat.map(_.bucket)
    val tx = table.txn(spark, Some(snap), fatIds)
    // (bucket, row-hash mod target) partitioning → exactly ≤ target output
    // files per bucket; with target=1 each bucket lands in one task. At
    // 100 TB pick target so bucket/target ≈ one task's worth of rows.
    // The split hash covers all data columns — compaction is schema-
    // agnostic (corpus, index and metrics namespaces all compact), and
    // the rewrite reads full width regardless.
    val data = table.read(spark, snap, Some(fatIds.toSet))
    val rewritten =
      if (cluster.isEmpty) {
        val splitCols = data.columns.filterNot(_ == "bucket").map(col)
        data.repartition(fatIds.length * targetFilesPerBucket, $"bucket",
          pmod(hash(splitCols: _*), lit(targetFilesPerBucket)))
      } else {
        ops.Zorder.clusterByLeading(data,
          fatIds.length * targetFilesPerBucket, clusterBits,
          Seq($"bucket"), cluster)
      }
    rewritten
      .write.mode("append")
      .partitionBy("bucket")
      .parquet(s"$tableDir/data")
    // the commit re-derives zone maps for the rewritten files, so
    // compaction never DEGRADES a stats-pruned table (namespaces without a
    // doc_id column simply record none)
    fat.foreach(b => tx.replace(b.bucket, b.watermarkDocId))
    tx.commit(s"compact-of-${snap.id}")
  }

  /** Copy-on-write DELETE by key — the right-to-be-forgotten primitive a
    * training-data table legally needs (a takedown/opt-out request names
    * doc ids; the table must stop serving them). Every FILE that holds a
    * doomed key is rewritten WITHOUT those rows using [[compact]]'s
    * append-then-commit pattern: new files land beside the old ones, one
    * snapshot commit swaps the lineage, the old files become GC-able
    * orphans. Nothing is deleted in place, so a crash at any point leaves
    * the committed table untouched and readers pinning the pre-delete
    * snapshot finish their scans.
    *
    * FILE-GRANULAR blast radius (Iceberg's COW delete granularity), three
    * bounded passes:
    *  1. plan — when the delete keys on [[Manifest.ZoneMapCol]], a file
    *     whose recorded zone map excludes every doomed key provably holds
    *     no hits, so only OVERLAPPING files become candidates (the
    *     overlap test is a distributed key-between-bounds join against
    *     the manifest-sized stat relation — never a driver loop over
    *     keys). A file with no stat, or a delete on any other column, is
    *     always a candidate: pruning degrades, correctness doesn't.
    *  2. locate — one (bucket, key, file)-wide scan of the CANDIDATE
    *     files semi-joined against the key set, partial-agged to per-file
    *     hit counts; a candidate whose id range merely straddles the keys
    *     without containing one is never rewritten.
    *  3. rewrite — only files with ACTUAL hits re-read full-width,
    *     `left_anti` the keys, re-written partitioned by bucket
    *     (survivors of a bucket's hit files coalesce into few files — a
    *     delete must not fragment the table). Untouched files keep their
    *     lineage AND their zone maps verbatim; a takedown of k documents
    *     on a stats-covered table rewrites O(k) files, not O(k) buckets.
    *     A bucket whose rows ALL die commits as rows=0 with no files (the
    *     legitimate zero-row state).
    *
    * Buckets are grouped by their merged parquet schema (one footer pass
    * over the selected buckets' files) and each group is scanned
    * separately, so heterogeneous bucket NAMESPACES (the indexed corpus
    * stream: corpus rows + index rows keyed by the same id) delete in ONE
    * call and ONE commit — corpus and index can never disagree about a
    * forgotten id. Buckets whose schema lacks `keyCol` (metrics, heat
    * sketches) are skipped — they hold no per-document rows. Per-bucket
    * watermarks are carried UNCHANGED: the watermark is a monotone resume
    * high-water mark, not a row-set digest, and regressing it could
    * re-admit already-processed inputs.
    *
    * RETENTION CAVEAT (document this to whoever files the takedown): the
    * delete removes rows from the CURRENT snapshot; pinned older snapshots
    * and orphaned pre-delete files still hold the bytes until maintenance
    * runs. The full forget recipe is
    * `deleteByKey(...)` → `expireSnapshots(1)` → `removeOrphans(0)` —
    * after which no data file under the table contains the keys
    * (MaintenanceSpec proves it by scanning every surviving parquet). */
  def deleteByKey(
      spark: SparkSession,
      tableDir: String,
      keys: DataFrame,
      keyCol: String,
      only: Option[Set[Int]] = None): Manifest.Snapshot =
    deleteByKeyOn(spark, tableDir,
      new Manifest(tableDir, spark.sessionState.newHadoopConf()).head(), keys, keyCol, only)

  /** [[deleteByKey]] planned from `head`, the HEAD of the table at
    * `tableDir` the caller resolved. */
  private[graft] def deleteByKeyOn(spark: SparkSession, tableDir: String,
      head: Option[Manifest.Snapshot], keys: DataFrame, keyCol: String,
      only: Option[Set[Int]]): Manifest.Snapshot = {
    import spark.implicits._
    val table = new Manifest(tableDir, spark.sessionState.newHadoopConf())
    val snap = head.getOrElse(
      throw new IllegalStateException(s"nothing to delete from at $tableDir"))
    val sel = snap.buckets.filter(b => only.forall(_.contains(b.bucket)) &&
      b.files.nonEmpty)
    if (sel.isEmpty) return snap
    // the key set is the size of a forget request — distinct once, reused
    // by the locate scan and every rewrite group (lazy: the first consumer
    // materializes it, later ones hit the cache)
    val keySet = Pin(keys.select(col(keyCol)).distinct())

    // each bucket's merged schema from one footer pass; buckets without
    // keyCol hold no per-document rows and are skipped, the rest group by
    // schema so each group is one homogeneous scan (same guard rationale
    // as compact)
    val keyed = sel.zip(Manifest.bucketSchemas(spark, sel))
      .filter(_._2.fieldNames.contains(keyCol))
    val groups = keyed.groupBy(_._2).values.map(_.map(_._1)).toSeq

    // parquet URIs come back from input_file_name percent-encoded and
    // scheme-normalized; compare every spelling through the URI path
    def norm(f: String): String = new org.apache.hadoop.fs.Path(f).toUri.getPath

    // passes 1 and 2 per schema group: the files with actual hits
    val located = groups.flatMap { bs =>
      // pass 1: plan — zone-map overlap prunes candidate files when the
      // delete keys on the stats column (a stat for doc_id proves nothing
      // about any other key; statless files are always candidates)
      val candidates: Seq[String] =
        if (keyCol != Manifest.ZoneMapCol) bs.flatMap(_.files)
        else {
          val stats = bs.flatMap(_.stats)
          val statted = stats.map(_.file).toSet
          val statless = bs.flatMap(_.files).filterNot(statted)
          val overlapping =
            if (stats.isEmpty) Nil
            else {
              // manifest-sized stat relation × request-sized key set: the
              // between-join broadcasts the stats, so even a million-key
              // purge never collects keys to the driver
              val rel = stats.map(s => (s.file, s.minId, s.maxId))
                .toDF("f", "min_id", "max_id")
              keySet.join(broadcast(rel),
                  col(keyCol) >= col("min_id") && col(keyCol) <= col("max_id"))
                .select($"f").distinct().as[String].collect().toSeq
            }
          statless ++ overlapping
        }
      // pass 2: locate — per-FILE hit counts over the candidates only;
      // partial-agg, output manifest-sized
      if (candidates.isEmpty) Nil
      else table.readFiles(spark, candidates)
        .select(col("bucket"), col(keyCol), input_file_name().as("f"))
        .join(keySet, Seq(keyCol), "left_semi")
        .groupBy(col("bucket"), col("f")).agg(count(lit(1)).as("doomed"))
        .collect().toSeq.map(r => (r.getInt(0), norm(r.getString(1)), r.getLong(2)))
    }
    if (located.isEmpty) return snap
    val hitFiles = located.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).toSet }
    val hits = located.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._3).sum }
    def doomed(b: Manifest.BucketState): Seq[String] =
      b.files.filter(f => hitFiles.get(b.bucket).exists(_.contains(norm(f))))

    // pass 3: rewrite ONLY the files with actual hits, one read per schema
    // group; a widened bucket's survivors keep every column they hold
    val tx = table.txn(spark, Some(snap), hits.keys.toSeq.sorted)
    groups.map(_.flatMap(doomed)).filter(_.nonEmpty).foreach { files =>
      table.readFiles(spark, files)
        .join(keySet, Seq(keyCol), "left_anti")
        .repartition($"bucket")
        .write.mode("append").partitionBy("bucket")
        .parquet(s"$tableDir/data")
    }
    // untouched files keep their lineage and zone maps verbatim; only the
    // replacement files get fresh footer stats
    sel.filter(b => hits.contains(b.bucket)).foreach(b => tx.replace(b.bucket,
      b.watermarkDocId, b.files.filterNot(doomed(b).contains), b.rows - hits(b.bucket)))
    tx.commit(s"delete-of-${snap.id}")
  }
}
