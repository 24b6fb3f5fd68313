package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The DAILY-INCREMENT path of the corpus pipeline — what actually runs
  * after [[CorpusMain]]'s batch build ships the first corpus: each new
  * crawl increment is extracted, gated (the SAME [[CorpusPrep]]
  * expressions as the batch pipeline — one definition, no drift),
  * admitted against the ACCUMULATED corpus through the persisted dedup
  * index ([[streaming.EventStream.admitIndexedBatch]]: exact + LSH
  * near-dup vs everything ever admitted, per-batch metrics, one
  * snapshot), and then packed into training shards/sequences with the
  * FROZEN tokenizer from the base run (retraining BPE per increment
  * would re-id every shipped token; the [[ops.Bpe.oovStats]] drift audit
  * rides along and says when a retrain is actually due).
  *
  * The packer is itself an INCREMENTAL CONSUMER: it reads the corpus
  * table through [[Manifest.readAppended]] from the snapshot id it last
  * consumed (recorded as a ratcheting stream watermark on the train
  * table), so each admitted row is packed exactly once and a crash
  * between the corpus commit and the pack commit replays only the
  * unconsumed window — the two tables cannot desynchronize. Downstream
  * training loaders consume the train table the same way (readAppended
  * on the sequences bucket), closing the chain: crawl → corpus → shards
  * → training, every hop incremental and exactly-once.
  */
object IncrementalCorpus {
  def corpusTableDir(outDir: String): String = s"$outDir/stages/corpus_inc"
  def trainTableDir(outDir: String): String = s"$outDir/stages/train_inc"
  val StreamId = "incremental-corpus"
  /** Watermark key on the TRAIN table: highest corpus snapshot id whose
    * rows have been packed. */
  val ConsumedKey = "__consumed:corpus_snapshot"
  val ShardsBucket = 0
  val SequencesBucket = 1
  val OovBucket = 2

  private def conf(spark: SparkSession) = spark.sessionState.newHadoopConf()
  import streaming.EventStream.{HeatDepthDefault => HeatDepth, HeatWidthDefault => HeatWidth}

  /** The sub-bucket layout of corpus snapshot `snap` (from the layout
    * stamp [[streaming.EventStream]] maintains). */
  private def layoutOf(snap: Manifest.Snapshot): Int =
    snap.streamWatermarks.get(streaming.EventStream.LayoutKey).map(_.toInt).getOrElse(1)

  /** Seed the incremental corpus from the batch pipeline's committed
    * TRAIN side (lm_kept ∩ split=train) as admission batch 0 — the
    * standing corpus every later increment dedups against. */
  def bootstrap(spark: SparkSession, outDir: String,
      corpusBuckets: Int = 4): Unit = {
    // bootstrap must be the FIRST admission: if an increment ever ran
    // first, the stream watermark is past batch 0 and this admission
    // would be silently discarded as a re-delivery — the base corpus
    // would never seed and every increment would dedup against nothing
    require(new Manifest(corpusTableDir(outDir), conf(spark)).head().isEmpty,
      s"corpus at ${corpusTableDir(outDir)} already has commits — " +
        "bootstrap must run before any admitIncrement")
    val gated = CorpusMain.readStage(spark, outDir, "lm_kept")
    val split = CorpusMain.readStage(spark, outDir, "split")
    val train = gated
      .join(split.where(col("split") === "train").select(col("doc_id")), "doc_id")
      .select(col("doc_id"), col("domain"), col("text"))
    streaming.EventStream.admitOn(None, train, 0L, corpusTableDir(outDir), StreamId,
      "doc_id", "text", 0.8, 8, 4, corpusBuckets, "", None, HeatDepth, HeatWidth)
  }

  /** Word-k-gram size of the holdout-leakage gate (GPT-3-style
    * decontamination granularity). */
  val HoldoutDeconK = 8

  /** One crawl increment: extract → gate → HOLDOUT-LEAKAGE gate →
    * indexed admission. Batch ids must be monotone per caller (a
    * re-delivered id no-ops — the stream guard). Admission metrics land
    * in the corpus table's metrics bucket
    * ([[streaming.EventStream.readAdmissionMetrics]]).
    *
    * The holdout gate closes a leak the admission index CANNOT: the base
    * run's eval holdout is deliberately excluded from the bootstrap
    * corpus (it must never train), so an increment doc that is an exact
    * or near copy of a holdout doc looks FRESH to the dedup index and
    * would sail into training — contaminating every benchmark run
    * against the holdout. Any increment doc sharing a word-k-gram with
    * the holdout is dropped pre-admission ([[ops.Cleaning.decontaminate]]
    * — holdout side broadcast; swap in decontaminateBloom if a holdout
    * ever outgrows broadcast). */
  def admitIncrement(spark: SparkSession, raw: Dataset[RawDoc],
      outDir: String, batchId: Long): Unit = {
    require(batchId > 0, "batch 0 is the bootstrap; increments start at 1")
    val prev = new Manifest(corpusTableDir(outDir), conf(spark)).head().getOrElse(
      throw new IllegalArgumentException(s"no corpus at ${corpusTableDir(outDir)} — " +
        "bootstrap first (an increment admitted before bootstrap would mute the seed batch)"))
    val gated = gateIncrement(raw.toDF())
    val holdout = CorpusMain.readStage(spark, outDir, "eval_holdout")
    // pinned lazily: the admission's input count and its exact pass both
    // read it, and the first to run materializes it for the other
    val admissible = Pin(gated.join(
      ops.Cleaning.decontaminate(gated, holdout, "doc_id", "text",
          k = HoldoutDeconK)
        .where(col("keep") === 1).select(col("doc_id")),
      "doc_id"))
    streaming.EventStream.admitOn(Some(prev), admissible, batchId, corpusTableDir(outDir),
      StreamId, "doc_id", "text", 0.8, 8, 4, layoutOf(prev), "", None, HeatDepth, HeatWidth)
  }

  /** The admission front end of one increment: extraction, then the
    * batch pipeline's text funnel ([[CorpusPrep]]) up to the language
    * gate, each document computed once.
    *
    * It is pinned at the stage boundaries [[CorpusMain]] commits, so no
    * predicate is pushed across them:
    *  - the extracted texts, pinned BEFORE their non-empty filter. Pushed
    *    into the extraction projection, that filter and every gate above
    *    it would inline their own copy of `extract_spans`; pushed through
    *    the input's repartition onto a local Dataset, the optimizer would
    *    fold the whole chain on the driver;
    *  - `cleaned`: the language gate reads its input three times (its
    *    self-join and two reads inside langIdBulk);
    *  - `lang_en`, pinned eagerly: admission runs several actions over
    *    it (input count, admission joins, outcome counts).
    * The first two pins are lazy: they materialize inside the final
    * pin's job. */
  private[graft] def gateIncrement(raw: DataFrame): DataFrame = {
    val extracted = plans.GraftFunctions.extractColumnar(raw)
      .select(col("doc_id"), col("domain"), col("spans"))
    val texts = Pin(CorpusPrep.textOf(extracted)).where(CorpusPrep.hasText)
    val cleaned = Pin(CorpusPrep.cleanGate(texts))
    Pin.now(CorpusPrep.langGateEn(cleaned))
  }

  /** Pack every corpus row appended since the last pack into
    * training-ready shards + fixed-length sequences (frozen tokenizer),
    * append them to the train table and advance the consumed-snapshot
    * watermark in ONE commit. Returns the number of docs packed (0 when
    * the consumer is already caught up). Shards are keyed
    * (pack_window, domain, shard) — pack_window is the consumed corpus
    * snapshot id, so windows never collide and a loader can itself read
    * incrementally. */
  def packIncrements(spark: SparkSession, outDir: String,
      budget: Int = 2048, seqLen: Int = 256, nParts: Int = 8): Long = {
    import spark.implicits._
    val cm = new Manifest(corpusTableDir(outDir), conf(spark))
    val cHead = cm.head().getOrElse(throw new IllegalStateException(
      s"no corpus at ${corpusTableDir(outDir)} — bootstrap first"))
    val cb = layoutOf(cHead)
    val tm = new Manifest(trainTableDir(outDir), conf(spark))
    val tHead = tm.head()
    val consumed = tHead
      .flatMap(_.streamWatermarks.get(ConsumedKey)).getOrElse(-1L).toInt
    if (consumed >= cHead.id) return 0L

    // lazy: the count materializes the pin in its one job
    val fresh = Pin(cm.readAppended(spark, consumed, Some(cHead.id),
        buckets = Some((0 until cb).toSet)).drop("bucket"))
    val n = fresh.count()

    val buckets = Seq(ShardsBucket, SequencesBucket, OovBucket)
    val tx = tm.txn(spark, tHead, buckets)
    if (n > 0) {
      // frozen tokenizer artifacts from the base run
      val merges = CorpusMain.readStage(spark, outDir, "bpe_merges")
        .orderBy($"rank").select($"l", $"r").as[(String, String)].collect().toSeq
      val vocab = CorpusMain.readStage(spark, outDir, "vocab")

      // checkpoint before write: the shards feed their own write AND the
      // sequences — without this the tokenization DAG (the expensive
      // stage) would replay once per action
      val packed = Pin.now(ops.Sampling.packShards(fresh, "doc_id", "domain",
          ops.Bpe.bpeTokenCount($"text", merges).cast("bigint"), budget)
        .withColumn("pack_window", lit(cHead.id)))
      val seqs = ops.Sampling.shuffleOrder(
        ops.Bpe.attachIds(
          ops.Sampling.packSequencesWithBounds(
            packed.withColumn("toks", ops.Bpe.bpeTokensFull($"text", merges)),
            "doc_id", Seq("pack_window", "domain", "shard"), $"toks", seqLen),
          "toks", vocab),
        Seq($"pack_window", $"domain", $"shard", $"seq"),
        salt = s"w${cHead.id}", nParts = nParts)
      val oov = ops.Bpe.oovStats(fresh, "domain", "text", merges, vocab)
        .withColumn("pack_window", lit(cHead.id))

      packed.write.mode("append")
        .parquet(s"${trainTableDir(outDir)}/data/bucket=$ShardsBucket")
      seqs.write.mode("append")
        .parquet(s"${trainTableDir(outDir)}/data/bucket=$SequencesBucket")
      oov.coalesce(1).write.mode("append")
        .parquet(s"${trainTableDir(outDir)}/data/bucket=$OovBucket")
    }
    // ONE commit: grown bucket states + the ratcheted consumed watermark.
    // A zero-row window still commits (watermark-only) so the consumer
    // never rescans an empty window. Row counts come from the fresh files'
    // own footers — no count() job over the written frames.
    buckets.foreach(tx.append(_, ""))
    tx.commit(s"pack-window-${cHead.id}",
      streamWatermark = Some((ConsumedKey, cHead.id.toLong)))
    n
  }

  /** Manifest-planned read of one train-table bucket
    * ([[ShardsBucket]] / [[SequencesBucket]] / [[OovBucket]]). */
  def readTrain(spark: SparkSession, outDir: String, bucket: Int): DataFrame =
    new Manifest(trainTableDir(outDir), conf(spark))
      .readData(spark, Some(Set(bucket))).drop("bucket")
}
