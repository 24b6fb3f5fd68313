package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Similarity

/** Streaming IVF vector index — the ANN twin of
  * [[EventStream.runIndexedCorpusStream]]: embedding rows arrive as a
  * parquet stream and are committed into a manifest table whose data
  * buckets ARE the IVF cells, so a probe batch reads only its probed
  * cells' files straight from the snapshot (manifest-level pruning — the
  * scan's file list never includes an unprobed cell, stronger than a
  * partition filter over a full listing) with snapshot isolation and
  * time travel for free.
  *
  * Why this exists at 100 TB: [[graft.ops.Similarity.ivfIndexAppend]]
  * already ingests incrementally into the plain at-rest layout, but a
  * plain `mode("append")` parquet write is not atomic with anything — a
  * crashed ingest leaves half-written cells visible to every probe, and
  * re-delivered micro-batches double-index. Here each micro-batch commits
  * all touched cell buckets + the ingest-metrics row in ONE snapshot
  * guarded by the per-stream batch watermark ([[EventStream.streamIdFor]]
  * exactly-once), so probes only ever see fully-committed batches and
  * crash leftovers stay GC-able orphans.
  *
  * Table layout, parameterized by `nCells` (N):
  *  - buckets `0 .. N-1`: vector rows, bucket = the row's nearest-centroid
  *    cell under the COMMITTED codebook (all input columns carried — the
  *    index co-locates the payload by cell, like [[Similarity.buildIvfIndex]]);
  *  - bucket `N` ([[codebookBucketFor]]): the codebook (cell INT,
  *    cv ARRAY<DOUBLE>), trained ONCE on the first non-empty batch
  *    (deterministic md5-ordered seeds + `lloydIters` DataFrame-side Lloyd
  *    rounds) and committed in that batch's snapshot — every later batch
  *    assigns against it, so old and new rows agree on cell geometry;
  *  - bucket `N+1` ([[metricsBucketFor]]): one ingest-metrics row per
  *    committed micro-batch (batch_id, input_rows, indexed, dropped_null,
  *    cells_touched, trained, assign_msd_q — the batch's mean squared
  *    assignment distance in micro-units, −1 for an empty batch; the
  *    drift signal that makes the frozen codebook operable — and
  *    near_dropped, the rows the opt-in semantic admission gate
  *    rejected, and gate_skipped_cells, the cells the gate's hot-cell
  *    guard admitted ungated), committed WITH the data.
  *
  * The codebook is never re-fit (after heavy drift, rebuild the table);
  * a layout stamp (`__layout:ivf_cells`) makes a table written with one
  * `nCells` refuse to open under another, exactly like the corpus
  * stream's `corpusBuckets` stamp. */
object VectorIndexStream {

  /** Manifest bucket holding the codebook rows. */
  def codebookBucketFor(nCells: Int): Int = nCells

  /** Manifest bucket holding one ingest-metrics row per batch. */
  def metricsBucketFor(nCells: Int): Int = nCells + 1

  /** Reserved watermark-map key stamping the table's cell count into every
    * snapshot (carried forward by commits and compaction). Misreading the
    * layout would be silent corruption: cell buckets parsed as codebook /
    * metrics and vice versa. */
  private[graft] val LayoutKey = "__layout:ivf_cells"

  private def open(spark: SparkSession, tableDir: String, nCells: Int, asOf: Option[Int]) =
    EventStream.open(spark, tableDir, asOf, LayoutKey, "nCells", nCells)

  /** Committed codebook of snapshot `asOf` (else HEAD), cell-ordered
    * (tiny: nCells × dims). Empty before the first non-empty batch
    * commits; like every reader, fails on a table with no commit. */
  def readCodebook(spark: SparkSession, tableDir: String, nCells: Int,
      asOf: Option[Int] = None): Seq[Seq[Double]] = {
    val (m, snap) = open(spark, tableDir, nCells, asOf)
    codebookOf(spark, m, snap, nCells)
  }

  private def codebookOf(spark: SparkSession, m: graft.Manifest,
      snap: graft.Manifest.Snapshot, nCells: Int): Seq[Seq[Double]] = {
    val cb = codebookBucketFor(nCells)
    if (!snap.buckets.exists(b => b.bucket == cb && b.rows > 0)) Nil
    else m.read(spark, snap, Some(Set(cb)))
      .select(col("cell"), col("cv")).orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
  }

  /** All committed vector rows (bucket column dropped) — the full-scan
    * reader; probes should use [[topKSnapshot]], which prunes. */
  def readVectors(spark: SparkSession, tableDir: String,
      nCells: Int): DataFrame = {
    val (m, snap) = open(spark, tableDir, nCells, None)
    m.read(spark, snap, Some((0 until nCells).toSet)).drop("bucket")
  }

  /** Per-micro-batch ingest metrics, one row per committed batch. The
    * metrics row has WIDENED across versions (the admission gate added
    * `near_dropped` / `gate_skipped_cells`); the manifest reads the bucket
    * with every column any of its files holds, and pre-gate rows surface
    * those columns as 0 — a table ingested partly before and partly after
    * the gate stays readable with one stable 9-column schema. */
  def readIngestMetrics(spark: SparkSession, tableDir: String,
      nCells: Int): DataFrame = {
    val (m, snap) = open(spark, tableDir, nCells, None)
    val raw = m.read(spark, snap, Some(Set(metricsBucketFor(nCells)))).drop("bucket")
    Seq("near_dropped", "gate_skipped_cells").foldLeft(raw) { (df, c) =>
      if (df.columns.contains(c)) df.withColumn(c, coalesce(col(c), lit(0L)))
      else df.withColumn(c, lit(0L))
    }
  }

  /** Exact cosine top-k against the COMMITTED index: rank each probe's
    * `nProbe` nearest cells against the committed codebook, then read ONLY
    * those cells' buckets from the snapshot — the candidate scan's file
    * list comes from the manifest pruned to the probed cells, so a query
    * batch reads ~(nProbe / nCells) of the table's bytes no matter how
    * many batches have been ingested. `asOf` pins a snapshot (probe the
    * index as of batch k — reproducible serving). Returns (probe_id,
    * cand_id, cosine, rn ≤ k), ranking identical to
    * [[Similarity.ivfTopKIndexed]] by construction (shared helpers). */
  def topKSnapshot(spark: SparkSession, tableDir: String, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int, nCells: Int,
      asOf: Option[Int] = None): DataFrame = {
    val (m, snap) = open(spark, tableDir, nCells, asOf)
    val cents = codebookOf(spark, m, snap, nCells)
    require(cents.nonEmpty,
      s"vector-index table at $tableDir has no committed codebook yet")
    val (p, probedCells) = Similarity.rankProbes(probes, idCol, vecCol,
      cents, nProbe)
    val hasFiles = snap.buckets
      .exists(b => probedCells.contains(b.bucket) && b.files.nonEmpty)
    if (!hasFiles) // none of the probed cells committed any vectors yet
      return probes.select(col(idCol).as("probe_id"), col(idCol).as("cand_id"))
        .withColumn("cosine", lit(0.0)).withColumn("rn", lit(1))
        .where(lit(false))
    val cands = m.read(spark, snap, Some(probedCells.toSet))
      .withColumnRenamed("bucket", "cell")
    Similarity.topKWithinCells(p, cands, idCol, vecCol, k)
  }

  /** Run the ingest stream: parquet files under `inDir` → one manifest
    * commit per micro-batch. `schemaFrom` supplies the input schema (any
    * columns; `idCol` unique, `vecCol` numeric array). The first non-empty
    * batch trains the codebook (md5-ordered seeds + `lloydIters` Lloyd
    * rounds over that batch) and commits it with its rows — UNLESS
    * `initialCodebook` is given, in which case THAT codebook (e.g. Lloyd
    * over an offline representative sample — batch 1 of a live feed is
    * rarely representative) is committed with the first batch and trained
    * in-stream never happens. A codebook already committed in the table
    * always wins over both (restart safety).
    *
    * `nearDupCosine = Some(t)` turns on the semantic admission gate:
    * batch rows within cosine `t` of an already-committed vector in
    * their own cell (or of a smaller-id row of the same batch, same
    * cell) are dropped before the write and counted as `near_dropped` —
    * SemDeDup at ingest, recall bounded by the cell assignment. Cells
    * past `maxGateCell` rows on either side are skipped by the gate
    * (admitted ungated, audited as `gate_skipped_cells`) — the hot-cell
    * guard; 0 disables the cap. */
  def runVectorIndexStream(spark: SparkSession, inDir: String,
      tableDir: String, checkpointDir: String, schemaFrom: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nCells: Int = 16, lloydIters: Int = 2,
      initialCodebook: Option[Seq[Seq[Double]]] = None,
      nearDupCosine: Option[Double] = None,
      maxGateCell: Int = 4096): StreamingQuery =
    EventStream.availableNow(
      EventStream.files(spark, inDir, schemaFrom, 1), checkpointDir) {
      (batch, batchId, streamId, _) =>
        indexBatch(batch, batchId, tableDir, streamId, idCol, vecCol,
          nCells, lloydIters, initialCodebook, nearDupCosine, maxGateCell)
    }

  private[graft] def indexBatch(batch: DataFrame, batchId: Long,
      tableDir: String, streamId: String, idCol: String, vecCol: String,
      nCells: Int, lloydIters: Int,
      initialCodebook: Option[Seq[Seq[Double]]] = None,
      nearDupCosine: Option[Double] = None,
      maxGateCell: Int = 4096): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(nCells >= 1, s"nCells must be >= 1, got $nCells")
    require(!batch.columns.contains("bucket"),
      "vector schema must not carry a 'bucket' column (manifest partition name)")
    require(!batch.columns.contains("cell"),
      "vector schema must not carry a 'cell' column (probe-join name)")
    val table = new graft.Manifest(tableDir, spark.sessionState.newHadoopConf())
    val prev = table.head()
    prev.foreach(EventStream.requireLayout(_, LayoutKey, "nCells", nCells, tableDir))
    if (EventStream.isRedelivered(prev, streamId, "", batchId))
      return // re-delivered
    val cbBucket = codebookBucketFor(nCells)
    val mBucket = metricsBucketFor(nCells)
    // bootstrap while no codebook row is COMMITTED (an empty first batch
    // commits its watermark but trains nothing — the next batch bootstraps)
    val committed = prev
      .exists(_.buckets.exists(b => b.bucket == cbBucket && b.rows > 0))
    // rows with null id or vector cannot be assigned (and a null id would
    // break probe ranking) — dropped, but COUNTED in the metrics row
    val rows = graft.Pin(batch.where(col(idCol).isNotNull && col(vecCol).isNotNull))
    // independent counts overlap (guide §2.6); the nRows count also
    // materializes the lazily pinned `rows`
    val (nInput, nRows) = graft.Par.par2(() => batch.count(), () => rows.count())
    initialCodebook.foreach { cb =>
      require(cb.nonEmpty && cb.length <= nCells,
        s"initialCodebook must have 1..$nCells centroids, got ${cb.length}")
    }
    val cents: Seq[Seq[Double]] =
      if (committed) codebookOf(spark, table, prev.get, nCells)
      else initialCodebook.getOrElse {
        if (nRows == 0L) Nil
        else Similarity.refineCentroids(rows, vecCol,
          Similarity.seedCentroids(rows, idCol, vecCol, nCells), lloydIters)
      }
    // one shuffle by cell before the partitioned write: without it every
    // task holds rows of every cell, so a batch writes O(tasks × nCells)
    // small files — the metadata plane (snapshot JSON, probe file opens)
    // then grows nCells× faster than it needs to between compactions
    val assigned =
      if (nRows == 0L) None
      else Some(graft.Pin(graft.ops.Similarity.cellRanks(rows, idCol, vecCol, cents,
          maxRank = 1)
        .withColumn("bucket", col("__cell").cast("int"))
        .drop("__cell", "__rk")
        .repartition(col("bucket"))))

    // semantic near-dup ADMISSION gate (opt-in, the SemDeDup-at-ingest
    // composition): a batch row is dropped — and counted in the metrics —
    // when its cosine to an already-COMMITTED vector in its own cell, or
    // to a SMALLER-ID row of this batch in the same cell, reaches
    // `nearDupCosine`. Both sides are assigned under the same frozen
    // codebook, so an exact duplicate always lands in the dup's cell and
    // is always caught; recall across cell boundaries is bounded by the
    // cell assignment (the documented SemDeDup trade — same as
    // Dedup.semanticDedup). Committed candidates are read manifest-pruned
    // to the batch's own cells; the intra-batch pass compares against ALL
    // batch rows including later-dropped ones (transitive poisoning, the
    // incremental-dedup doctrine). Cells past `maxGateCell` rows on
    // either side (batch count, or committed rows from snapshot METADATA
    // — no scan) are skipped by the gate — admitted ungated, never a
    // stalled quadratic join — and counted as gate_skipped_cells in the
    // metrics: the hot-cell doctrine of semanticNearDupPairs, audited,
    // not silent. NULL cosines (zero vectors divide by zero → NULL) and
    // NaN cosines (a NaN embedding element; Spark orders NaN above every
    // number, so a bare >= would drop on it) never drop a row.
    def cosine(x: String, y: String, nx: String, ny: String) =
      Similarity.dot(x, y) / (col(nx) * col(ny))
    def nearPred(c: org.apache.spark.sql.Column, t: Double) =
      c >= t && !isnan(c)
    val (admitted, nNearDropped, nGateSkipped): (Option[DataFrame], Long, Long) =
      (assigned, nearDupCosine) match {
        case (Some(a0), Some(t)) =>
          val a = graft.Pin(a0.withColumn("__n1", Similarity.norm(vecCol)))
          // batch-side cell sizes: one config-sized collect (≤ nCells)
          val batchCellN: Map[Int, Long] = a.groupBy(col("bucket"))
            .agg(count(lit(1)).as("__c")).collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
          val committedN: Map[Int, Long] = prev
            .map(_.buckets.map(b => b.bucket -> b.rows).toMap)
            .getOrElse(Map.empty)
          val gateable = batchCellN.keySet.filter(b =>
            maxGateCell <= 0 || (batchCellN(b) <= maxGateCell &&
              committedN.getOrElse(b, 0L) <= maxGateCell))
          val skipped = (batchCellN.keySet -- gateable).size.toLong
          val g = a.where(col("bucket")
            .isin(gateable.toSeq.map(b => b: Any): _*))
          val candCells = gateable.filter(b => prev.exists(
            _.buckets.exists(pb => pb.bucket == b && pb.files.nonEmpty)))
          val intraRhs = g.select(col("bucket"), col(idCol).as("__ia"),
            col(vecCol).as("__av"), col("__n1").as("__na"))
          val intraDrops = g.join(intraRhs, "bucket")
            .where(col("__ia") < col(idCol) &&
              nearPred(cosine("__av", vecCol, "__na", "__n1"), t))
            .select(col(idCol))
          val drops = graft.Pin((if (candCells.isEmpty) intraDrops else {
            val cands = table.read(spark, prev.get, Some(candCells))
              .select(col("bucket"), col(vecCol).as("__cv3"))
              .withColumn("__n3", Similarity.norm("__cv3"))
            g.join(cands, "bucket")
              .where(nearPred(cosine(vecCol, "__cv3", "__n1", "__n3"), t))
              .select(col(idCol))
              .unionByName(intraDrops)
          }).distinct())
          // re-cluster by cell after the anti-join shuffled by id — the
          // partitioned write below must stay one-file-per-touched-cell
          val kept = graft.Pin(a0.join(drops, Seq(idCol), "left_anti")
            .repartition(col("bucket")))
          val nKept = kept.count()
          (if (nKept == 0L) None else Some(kept), nRows - nKept, skipped)
        case _ => (assigned, 0L, 0L)
      }

    // ONE pass over the admitted batch: the touched cells and their id
    // watermarks (the commit's bookkeeping; row counts come from the
    // written footers). The drift aggregate below is independent of it, so
    // the two actions overlap (guide §2.6); concurrent first-touch of the
    // lazily-checkpointed frame is block-manager-safe.
    val (cellWm, msdQ) = graft.Par.par2(
      () => admitted.map(
        _.groupBy(col("bucket")).agg(max(col(idCol).cast("string")))
          .collect().map(r => r.getInt(0) -> r.getString(1)).toMap)
        .getOrElse(Map.empty[Int, String]),
      // drift signal: mean squared distance of this batch's rows to their
      // assigned centroids, floored to integer micro-units (−1 = no rows).
      // The codebook is frozen, so a rising assign_msd_q across batches is
      // the operator's rebuild trigger — without it "never re-fit" is an
      // unobservable liability. One narrow broadcast join on the cell id.
      () => assigned.map { a =>
        val cb = cents.zipWithIndex.map { case (c, i) => (i, c) }
          .toDF("bucket", "__centv2")
        val sqd = expr(s"""aggregate(zip_with(__centv2, $vecCol,
          |  (a, b) -> (a - cast(b as double)) * (a - cast(b as double))),
          |  0D, (acc, v) -> acc + v)""".stripMargin)
        math.floor(a.join(broadcast(cb), "bucket")
          .agg(avg(sqd)).head().getDouble(0) * 1e6).toLong
      }.getOrElse(-1L))

    // only TOUCHED buckets are listed and committed — the commit
    // carries every untouched bucket's state forward, so at nCells=1024 a
    // 3-cell batch issues ~10 listStatus calls, not ~2050 (on object
    // storage the listing would otherwise dominate the "commit is
    // metadata" claim)
    val trained = !committed && cents.nonEmpty
    val touched = cellWm.keys.toSeq.sorted ++
      (if (trained) Seq(cbBucket) else Nil) :+ mBucket
    val tx = table.txn(spark, prev, touched)
    // the three writes target disjoint directories — overlap them
    graft.Par.par(Seq(
      () => admitted.foreach(_.select(batch.columns.map(col) :+ col("bucket"): _*)
        .write.mode("append").partitionBy("bucket")
        .parquet(s"$tableDir/data")),
      () => if (trained)
        cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "cv")
          .coalesce(1).write.mode("append")
          .parquet(s"$tableDir/data/bucket=$cbBucket"),
      () => Seq((batchId, nInput, nRows - nNearDropped, nInput - nRows,
          cellWm.size.toLong, trained, msdQ, nNearDropped, nGateSkipped))
        .toDF("batch_id", "input_rows", "indexed", "dropped_null",
          "cells_touched", "trained", "assign_msd_q", "near_dropped",
          "gate_skipped_cells")
        .coalesce(1).write.mode("append").parquet(s"$tableDir/data/bucket=$mBucket")))

    // ONE commit covers the touched cells + codebook + metrics + the
    // exactly-once watermark. Even an all-null batch commits — the
    // watermark must advance or re-delivery would replay it forever, and
    // its metrics row records the decision.
    touched.foreach(b => tx.append(b, cellWm.getOrElse(b, "")))
    tx.commit(f"vecidx-batch-$batchId%06d",
      streamWatermark = Some(streamId -> batchId),
      extraWatermarks = Map(LayoutKey -> nCells.toLong))
  }
}
