package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * All operators are pure column algebra (higher-order array functions, no
  * UDFs) so Catalyst can prune/push down around them, and all hashing is
  * md5-based so results are portable and deterministic across engines and
  * runs (no seed-dependent native hash).
  *
  * Scale design: exact dedup is one hash-shuffle; MinHash-LSH is
  * signature (narrow map) → band explode (bands rows/doc) → bucket equi-join
  * with a hot-bucket guard — never an O(n²) cross join. SimHash pairing uses
  * pigeonhole bit-banding (hamming ≤ k ⇒ at least one of k+1 bands equal),
  * so it is also a pure equi-join with exact recall.
  */
object Dedup {

  /** Keep-first exact dedup on a content column: one row per distinct
    * content hash, earliest `idCol` wins (deterministic).
    *
    * Plan shape matters here more than anywhere else in the dedup family:
    * web crawls routinely contain 10⁵–10⁶-member exact-dup clusters, and a
    * `Window.partitionBy(hash)` would ship EVERY member of a cluster to one
    * task and sort it in that task's window buffer — a guaranteed straggler.
    * `groupBy(hash).agg(min_by(row, id))` instead collapses each cluster
    * map-side via partial aggregation: one surviving row per hash per
    * mapper, so a million-member cluster costs one row per input partition
    * at the shuffle, never a million-row buffer in one reducer. */
  def exactDedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val row = struct(df.columns.map(col): _*)
    df.groupBy(md5(col(contentCol)).as("__h"))
      .agg(min_by(row, col(idCol)).as("__keep"))
      .select(df.columns.map(c => col("__keep").getField(c).as(c)): _*)
  }

  /** Fuzzy-exact dedup: [[exactDedup]] keyed on the NORMALIZED content
    * form ([[graft.ops.Cleaning.dedupKey]] — lowercase, accent-folded,
    * punctuation-stripped, whitespace-collapsed), so casing / punctuation
    * / whitespace variants of the same page collapse to one keeper. The
    * "exact" dedup most web pipelines actually run (byte-exact misses the
    * bulk of trivial mirrors). Same plan shape as [[exactDedup]]: the key
    * is computed map-side inside the partial agg — no extra pass, no
    * materialized key column. */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val row = struct(df.columns.map(col): _*)
    df.groupBy(md5(Cleaning.dedupKey(col(textCol))).as("__h"))
      .agg(min_by(row, col(idCol)).as("__keep"))
      .select(df.columns.map(c => col("__keep").getField(c).as(c)): _*)
  }

  /** MinHash signature: k salted min-md5 values over word 3-gram shingles.
    * Adds `sig` (array<string>, length k). Docs with fewer than 3 words get
    * an empty signature (they never spuriously collide). */
  def minhashSignatures(df: DataFrame, textCol: String, k: Int = 8): DataFrame =
    sigOverShingles(
      df.withColumn("__ws", split(col(textCol), " "))
        .withColumn("__shingles",
          when(size(col("__ws")) >= 3,
            expr("""transform(sequence(0, size(__ws) - 3),
                   |  i -> concat_ws(' ', element_at(__ws, i + 1),
                   |                      element_at(__ws, i + 2),
                   |                      element_at(__ws, i + 3)))""".stripMargin))
            .otherwise(array())),
      "__shingles", k)
      .drop("__ws", "__shingles")

  /** k salted min-md5 values over an ALREADY-materialized shingle array
    * column: adds `sig` (array<string>, length k; empty when there are no
    * shingles — such rows never spuriously collide). The signature core
    * shared by the word-shingle text path above and
    * [[graft.ops.Media.binarySignatures]]'s byte-shingle path. */
  private[ops] def sigOverShingles(df: DataFrame, shCol: String,
      k: Int): DataFrame = {
    val sigs = (0 until k).map(i =>
      expr(s"array_min(transform($shCol, s -> md5(concat('$i:', s))))"))
    df.withColumn("sig",
      when(size(col(shCol)) > 0, array(sigs: _*))
        .otherwise(array().cast("array<string>")))
  }

  /** Band hashes for a signature column: `bands` md5 band digests. When the
    * signature length is not divisible by `bands`, the FINAL band absorbs
    * the remainder values — no signature value is ever silently excluded
    * (which would cut recall with no error). */
  private def bandHashExpr(bands: Int): String =
    s"""transform(sequence(0, $bands - 1),
       |  b -> md5(concat_ws('|',
       |    slice(sig, b * (size(sig) div $bands) + 1,
       |      IF(b = $bands - 1,
       |         size(sig) - ($bands - 1) * (size(sig) div $bands),
       |         size(sig) div $bands)))))""".stripMargin

  /** LSH candidate pairs from MinHash signatures: split the k-value
    * signature into `bands` bands, hash each band, self-join on
    * (band index, band hash) — docs sharing any band bucket become
    * candidates. Returns distinct (id_a, id_b) with id_a < id_b.
    *
    * Scale path: shuffle O(docs × bands); the pair blow-up is quadratic
    * ONLY within a bucket, so buckets larger than `maxBucket` members are
    * dropped (web-crawl corpora have million-member exact-dup clusters —
    * b² pairs from one bucket is a task-killer). Run [[exactDedup]] first
    * so exact duplicates never reach the banding, and inspect what was
    * dropped via [[lshOversizeBuckets]] (same arguments) — no silent caps.
    * `maxBucket = 0` disables the guard. */
  def lshCandidatePairs(sigDf: DataFrame, idCol: String, bands: Int,
      maxBucket: Int = 4096): DataFrame = {
    // compute-once: the banded relation below feeds the guard count AND
    // both self-join sides, so without materialization the signature
    // subtree upstream of sigDf — the most expensive compute in the LSH
    // chain (k salted md5 over EVERY shingle) — is re-derived per consumer
    // (the q_ngram_jaccard formatted plan carried six copies of it, each
    // doubled again by the pushed `size(sig) >= bands` filter). A lazy
    // checkpoint of the narrow (id, sig) input caches k×32 hex chars per
    // doc; banding over the cached rows is bands×md5 per doc — noise.
    // Projected first: a caller may pass the full minhashSignatures output,
    // and pinning its text column would cache the corpus itself.
    val sigs = sigDf.select(col(idCol), col("sig")).localCheckpoint(eager = false)
    val banded = bandedSignatures(sigs, idCol, bands)
    // The guard itself must not buffer the hot bucket: a windowed count
    // would pull every banded row of the hot bucket into one task, so the
    // counter is a partial-aggregating groupBy joined back (the count table
    // has one row per bucket — tiny next to the banded rows).
    val guarded =
      if (maxBucket <= 0) banded
      else {
        val small = banded.groupBy(col("band"), col("bandhash"))
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") <= maxBucket)
          .select(col("band"), col("bandhash"))
        banded.join(small, Seq("band", "bandhash"))
      }
    guarded.as("x").join(guarded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bandhash") === col("y.bandhash") &&
        col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
  }

  /** The buckets [[lshCandidatePairs]] would drop at `maxBucket`, with
    * their member counts — the audit/log surface for the hot-bucket guard. */
  def lshOversizeBuckets(sigDf: DataFrame, idCol: String, bands: Int,
      maxBucket: Int): DataFrame =
    bandedSignatures(sigDf, idCol, bands)
      .groupBy(col("band"), col("bandhash"))
      .agg(count(lit(1)).as("members"))
      .where(col("members") > maxBucket)

  private def bandedSignatures(sigDf: DataFrame, idCol: String, bands: Int): DataFrame = {
    // A signature SHORTER than `bands` would make size(sig) div bands = 0:
    // every band but the last hashes an empty slice to the CONSTANT md5('')
    // — all such docs collide (guarded away silently, or a corpus-wide
    // quadratic self-join with maxBucket=0). Mirror bandLayout's fail-fast:
    // reject the config statically and drop short signatures explicitly.
    require(bands >= 1, s"bands must be >= 1, got $bands")
    sigDf.where(size(col("sig")) >= bands)
      .select(col(idCol).as("__id"),
        posexplode(expr(bandHashExpr(bands))).as(Seq("band", "bandhash")))
  }

  /** Exact word-set Jaccard for candidate pairs — the verify stage after
    * LSH banding. `pairs` has (id_a, id_b); returns pairs + jaccard ≥
    * threshold. */
  def jaccardVerify(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, threshold: Double): DataFrame =
    jaccardVerifyAcross(docs, docs, idCol, textCol, pairs, threshold)

  /** [[jaccardVerify]] over two doc tables: id_a resolves against `docsA`,
    * id_b against `docsB` — ONE copy of the Jaccard formula serves the
    * self-join and cross-corpus cases, and an id present in both tables
    * can never be matched against the wrong side's text. */
  def jaccardVerifyAcross(docsA: DataFrame, docsB: DataFrame, idCol: String,
      textCol: String, pairs: DataFrame, threshold: Double): DataFrame = {
    // word sets are computed ONLY for ids that appear in a candidate pair:
    // each side is semi-joined to its pair-id column BEFORE the
    // split+distinct projection, so the per-doc word-set compute and the
    // bytes entering the verify joins' exchanges cost O(candidates), never
    // O(corpus) (the guide's project-early / semi-join pre-filter moves).
    // Results identical — the inner joins below keep exactly the pair ids
    // anyway. Callers whose `pairs` subtree is non-trivial should pass it
    // materialized (it is consumed three times here).
    def words(d: DataFrame, ids: DataFrame) = d
      .join(ids, d(idCol) === ids("__pid"), "left_semi")
      .select(col(idCol).as("__id"),
        array_distinct(split(col(textCol), " ")).as("__wset"))
    pairs
      .join(words(docsA, pairs.select(col("id_a").as("__pid"))).as("wa"),
        col("id_a") === col("wa.__id"))
      .join(words(docsB, pairs.select(col("id_b").as("__pid"))).as("wb"),
        col("id_b") === col("wb.__id"))
      .withColumn("inter", size(array_intersect(col("wa.__wset"), col("wb.__wset"))))
      .withColumn("uni", size(array_union(col("wa.__wset"), col("wb.__wset"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banded candidates
    * (hot buckets guarded) → exact-Jaccard verification. */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.7,
      maxBucket: Int = 4096): DataFrame = {
    val sigs = minhashSignatures(docs, textCol, k).select(col(idCol), col("sig"))
    // the verify consumes the candidate pairs three times (pair join + two
    // semi pre-filters) — materialize them once, lazily
    val cands = lshCandidatePairs(sigs, idCol, bands, maxBucket)
      .localCheckpoint(eager = false)
    jaccardVerify(docs, idCol, textCol, cands, threshold)
  }

  /** Per-bucket UNION member counts over two banded sides (delta +
    * corpus): the bucket population a full re-run over corpus ∪ delta
    * would see. Partial-agg per side, then a full-outer merge of the two
    * (tiny) count tables. */
  private def unionBucketCounts(dBand: DataFrame, cBand: DataFrame): DataFrame = {
    val nd = dBand.groupBy(col("band"), col("bandhash")).agg(count(lit(1)).as("__nd"))
    val nc = cBand.groupBy(col("band"), col("bandhash")).agg(count(lit(1)).as("__nc"))
    nd.join(nc, Seq("band", "bandhash"), "full_outer")
      .select(col("band"), col("bandhash"),
        (coalesce(col("__nd"), lit(0L)) + coalesce(col("__nc"), lit(0L))).as("members"))
  }

  /** The union buckets [[incrementalDedup]] drops at `maxBucket`, with
    * member counts — the audit/log surface for the incremental hot-bucket
    * guard (mirror of [[lshOversizeBuckets]]; no silent caps).
    *
    * To audit exactly what incrementalDedup's guard saw, feed it the
    * POST-exact-dedup delta signatures (`minhashSignatures(exactDedup(
    * delta, ...), ...)`) — the guard runs after the exact pass, so a
    * raw-delta audit over-counts buckets whose members were exact dups. */
  def lshOversizeBucketsUnion(deltaSigs: DataFrame, corpusSigs: DataFrame,
      idCol: String, bands: Int, maxBucket: Int): DataFrame =
    unionBucketCounts(
      bandedSignatures(deltaSigs, idCol, bands),
      bandedSignatures(corpusSigs, idCol, bands))
      .where(col("members") > maxBucket)

  // ------------------------------------------------------------------
  // Persisted corpus index: the hash + banded-signature relation that
  // makes increments independent of corpus width. incrementalDedup's
  // corpus-side cost is one md5 + MinHash/banding pass per increment —
  // linear in the corpus (IncrBench: ~36 s per 1M docs per increment).
  // Those two projections are pure functions of the immutable corpus, so
  // they are computed ONCE here, persisted beside the corpus (plain
  // parquet, or committed through the snapshot manifest so corpus and
  // index can never desync — EventStream.runIndexedCorpusStream), and
  // consumed by incrementalDedupIndexed. Per-increment corpus cost drops
  // to scanning ~bands narrow rows/doc of hashes — no text, no regex, no
  // md5 over corpus bytes.
  // ------------------------------------------------------------------

  /** Build the dedup index of a corpus: one relation with, per document,
    * `bands` rows (id, h = md5(text), band, bandhash); a document whose
    * signature is too short to band (< 3 words) carries a single
    * (band = -1, bandhash = null) row so its hash still participates in
    * the exact pass. Row width is (id, 32-hex, int, 32-hex) — tiny next
    * to the corpus text. Select `band <= 0` for the one-row-per-doc hash
    * table, `band >= 0` for the banded signature table.
    *
    * The index of newly admitted delta rows is `buildIndex(admitted, ...)`
    * with the SAME (k, bands) — append it to keep the index in lockstep
    * with the corpus. */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4): DataFrame = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    val sigs = minhashSignatures(corpus, textCol, k)
      .select(col(idCol), md5(col(textCol)).as("h"), col("sig"))
    val banded = sigs.where(size(col("sig")) >= bands)
      .select(col(idCol), col("h"),
        posexplode(expr(bandHashExpr(bands))).as(Seq("band", "bandhash")))
    val short = sigs.where(size(col("sig")) < bands)
      .select(col(idCol), col("h"),
        lit(-1).as("band"), lit(null).cast("string").as("bandhash"))
    banded.unionByName(short)
  }

  /** Incremental dedup — the daily-crawl-increment pattern: admit only the
    * delta rows that survive dedup against an ALREADY-DEDUPED, immutable
    * corpus, without recomputing the corpus. Returns the admitted delta
    * rows (original columns).
    *
    * Semantics (keeper preference always goes to the corpus, even when a
    * delta id is smaller — the corpus has shipped):
    *  1. exact: delta texts whose md5 already exists in the corpus are
    *     dropped; within-delta exact dups collapse keep-first;
    *  2. near vs corpus: banded cross-candidates → exact Jaccard ≥
    *     threshold → matched delta ids dropped;
    *  3. within delta: [[nearDupPairs]] → [[resolveClusters]]; cluster
    *     losers are dropped, and a whole cluster is dropped when ANY of
    *     its members matched the corpus (transitive closure through the
    *     delta — matches what a full re-run over corpus ∪ delta decides).
    *
    * Scale shape: every join is a narrow equi-join (md5 / band hash / id);
    * the corpus is touched by one hash projection and ONE signature/banding
    * pass per increment (the banded corpus frame — 4 narrow rows per doc —
    * is materialized and reused for the bucket counts and the join);
    * persist the hash and signature indexes alongside the corpus to make
    * increments independent of corpus width. The hot-bucket guard counts
    * the UNION bucket (delta members + corpus members), which is exactly
    * the bucket a full re-run over corpus ∪ delta would see, so the guard
    * fires in the same places — audit what it drops with
    * [[lshOversizeBucketsUnion]] (no silent caps). Delta-side stage
    * outputs feed 2+ consumers each, so they are materialized
    * (`localCheckpoint`) like the composed cleaning pipeline; pass
    * `materialize = false` to keep full lineage (plan inspection / tiny
    * inputs). */
  def incrementalDedup(delta: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 8, bands: Int = 4, threshold: Double = 0.7,
      maxBucket: Int = 4096, maxIters: Int = 50,
      materialize: Boolean = true): DataFrame = {
    // LAZY checkpoints: plan truncation + compute-once caching as before,
    // but materialization folds into the first consuming job instead of
    // paying one eager job per checkpoint (the frames feed 2+ consumers
    // each; later consumers hit the cache exactly as with eager)
    def mat(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(eager = false) else df
    // delegate to the index path with a just-built (materialized — both
    // the hash and banding consumers read it) index: ONE signature pass
    // over the corpus, and the semantics are the index path's by
    // construction. Callers with a persisted index skip this pass
    // entirely via incrementalDedupIndexed.
    incrementalDedupIndexed(delta, corpus,
      mat(buildIndex(corpus, idCol, textCol, k, bands)),
      idCol, textCol, k, bands, threshold, maxBucket, maxIters, materialize)
  }

  /** [[incrementalDedup]] against a PERSISTED corpus index
    * ([[buildIndex]]) — identical admission decisions (the non-indexed
    * form delegates here), but the corpus text is never hashed or
    * signatured: the exact pass anti-joins the index's hash rows, the LSH
    * pass equi-joins its banded rows. The raw `corpus` is touched only to
    * resolve the TEXT of near-dup candidate ids for the exact-Jaccard
    * verify — at production scale store the corpus bucketed by id so that
    * join prunes to the candidates' buckets. Per-increment cost is
    * delta-driven + one narrow scan of the index. */
  /** Partition pruning for the candidate text resolution: when the corpus
    * table is stored partitioned by an id-derived bucket column, pass
    * `pruneBucket = Some((bucketColName, id => bucketExpr(id)))` — the
    * candidates' bucket VALUES (a handful of ints) are computed and the
    * corpus scan gets an `IN (buckets...)` partition filter, so only the
    * partitions actually containing candidates are read. This realizes
    * the "store the corpus bucketed by id" scale path: at 10⁹ docs the
    * per-increment corpus I/O shrinks from a full (id, text) scan to the
    * candidates' partitions. The function must be the SAME one the writer
    * used to bucket the table (a mismatch silently resolves no text and
    * would ADMIT near-dups — PlanSpec/OpsSpec pin the contract). */
  def incrementalDedupIndexed(delta: DataFrame, corpus: DataFrame,
      index: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.7,
      maxBucket: Int = 4096, maxIters: Int = 50,
      materialize: Boolean = true,
      pruneBucket: Option[(String, Column => Column)] = None): DataFrame =
    incrementalDedupIndexedOutcome(delta, corpus, index, idCol, textCol,
      k, bands, threshold, maxBucket, maxIters, materialize, pruneBucket).admitted

  /** The admission breakdown of one [[incrementalDedupIndexedOutcome]]
    * call — the observability surface an ingest operator watches:
    *  - `admitted`: the delta rows that survived (original columns);
    *  - `exactSurvivors`: delta rows after the exact pass (within-delta
    *    keep-first + corpus-hash anti-join) — `input − count(exactSurvivors)`
    *    is the exact-drop count;
    *  - `directDrops`: one `__drop` id per exact-survivor dropped for a
    *    DIRECT near-dup reason (corpus Jaccard match, or within-delta
    *    cluster loser) — `count(exactSurvivors) − count(admitted) −
    *    count(directDrops)` is therefore the POISONED count (members
    *    dropped only because a clustermate matched the corpus). */
  private[graft] final case class IncrementalOutcome(
      admitted: DataFrame, exactSurvivors: DataFrame, directDrops: DataFrame)

  private[graft] def incrementalDedupIndexedOutcome(delta: DataFrame,
      corpus: DataFrame, index: DataFrame, idCol: String, textCol: String,
      k: Int = 8, bands: Int = 4, threshold: Double = 0.7,
      maxBucket: Int = 4096, maxIters: Int = 50,
      materialize: Boolean = true,
      pruneBucket: Option[(String, Column => Column)] = None): IncrementalOutcome = {
    // lazy checkpoints — see incrementalDedup's mat note
    def mat(df: DataFrame): DataFrame =
      if (materialize) df.localCheckpoint(eager = false) else df
    // 1. exact, within delta then vs corpus hash rows (band <= 0 selects
    // exactly one index row per doc; left-anti ignores multiplicity
    // anyway, the predicate just avoids scanning bands× rows)
    val deltaE = mat(exactDedup(delta, idCol, textCol)
      .join(index.where(col("band") <= 0).select(col("h").as("__ch")),
        md5(col(textCol)) === col("__ch"), "left_anti"))
    // 2. delta banded signatures; corpus side comes from the index; guard
    // on the UNION bucket size
    val dBand = mat(bandedSignatures(
      minhashSignatures(deltaE, textCol, k).select(col(idCol), col("sig")), idCol, bands))
    val cBand = index.where(col("band") >= 0)
      .select(col(idCol).as("__id"), col("band"), col("bandhash"))
    // the guard is DELTA-DRIVEN: only buckets the delta actually touches
    // can produce candidates (an untouched corpus bucket joins nothing in
    // `across` and nothing within-delta), so the union count is a LEFT
    // join from the delta's bucket counts — the filter table stays
    // batch-bounded and broadcastable, and the decision for every bucket
    // that matters is identical to the full-outer union count
    val (gd, gc) =
      if (maxBucket <= 0) (dBand, cBand)
      else {
        val nd = dBand.groupBy(col("band"), col("bandhash"))
          .agg(count(lit(1)).as("__nd"))
        val nc = cBand.groupBy(col("band"), col("bandhash"))
          .agg(count(lit(1)).as("__nc"))
        val ok = broadcast(nd.join(nc, Seq("band", "bandhash"), "left_outer")
          .where(coalesce(col("__nd"), lit(0L)) + coalesce(col("__nc"), lit(0L))
            <= maxBucket)
          .select(col("band"), col("bandhash")))
        (dBand.join(ok, Seq("band", "bandhash")), cBand.join(ok, Seq("band", "bandhash")))
      }
    // the delta side of the cross-candidate join is batch-bounded: hint it
    // as the broadcast build side so the corpus index STREAMS through a
    // BroadcastHashJoin instead of shuffling both sides into a sort-merge
    val across = mat(gc.as("c").join(broadcast(gd.as("d")),
        col("d.band") === col("c.band") && col("d.bandhash") === col("c.bandhash"))
      .select(col("d.__id").as("id_a"), col("c.__id").as("id_b")).distinct())
    // verify each side against its OWN text table — a delta id that
    // collides with a corpus id can never be checked against the wrong
    // text. The corpus side is SEMI-FILTERED to the candidate ids first
    // (broadcast — candidates are delta-bounded) so the word-set split
    // runs only on candidate rows, never as a whole-corpus projection;
    // the remaining corpus cost is the (id, text) scan of the semi join,
    // which an id-bucketed corpus table prunes to the candidates' buckets.
    val candIds = across.select(col("id_b").as("__cid")).distinct()
    val corpusBase = pruneBucket match {
      case Some((bcol, bucketOf)) =>
        // candidate bucket values are few (≤ #partitions) — collect them
        // and hand the scan a partition-prunable IN filter
        val bks = candIds.select(bucketOf(col("__cid")).as("__b"))
          .distinct().collect().map(_.get(0)).toSeq
        if (bks.isEmpty) corpus.where(lit(false)) else corpus.where(col(bcol).isin(bks: _*))
      case None => corpus
    }
    val corpusCands = corpusBase.join(broadcast(candIds),
      corpusBase(idCol) === col("__cid"), "left_semi")
    val matched = mat(
      jaccardVerifyAcross(deltaE, corpusCands, idCol, textCol,
          broadcast(across), threshold)
        .select(col("id_a").as("__mid")).distinct())
    // 3. within-delta near-dup clusters (same guarded banding reused); a
    //    corpus match poisons its whole cluster. Both sides batch-bounded
    //    — broadcast one so the self-join needs no shuffle.
    val withinCands = mat(gd.as("x").join(broadcast(gd.as("y")),
        col("x.band") === col("y.band") && col("x.bandhash") === col("y.bandhash") &&
        col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b")).distinct())
    val deltaPairs = jaccardVerify(deltaE, idCol, textCol,
        broadcast(withinCands), threshold)
      .select(col("id_a"), col("id_b"))
    val clusters = mat(resolveClusters(deltaPairs, maxIters = maxIters))
    val poisoned = clusters
      .join(matched, col("id") === col("__mid"))
      .select(col("cluster_id").as("__pc")).distinct()
    // directDropsRaw feeds clusterDrops UNdistincted — the outer distinct
    // below canonicalizes once; the distinct directDrops surface is only
    // built for the outcome (its one extra exchange runs only when the
    // caller actually counts it)
    val directDropsRaw = clusters.where(!col("keep")).select(col("id").as("__drop"))
      .union(matched.select(col("__mid").as("__drop")))
    val directDrops = directDropsRaw.distinct()
    val clusterDrops = clusters
      .join(poisoned, col("cluster_id") === col("__pc"), "left_semi")
      .select(col("id").as("__drop"))
      .union(directDropsRaw)
      .distinct()
    IncrementalOutcome(
      deltaE.join(clusterDrops, deltaE(idCol) === col("__drop"), "left_anti"),
      deltaE, directDrops)
  }

  /** 60-bit SimHash per row: explode words, md5→60-bit int, per-bit signed
    * vote. Returns df with (idCol, simhash: bigint). Narrow + one groupBy. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hv = conv(substring(md5(col("__w")), 1, 15), 16, 10).cast("bigint")
    val bits = (0 until 60).map { i =>
      when(sum(when(shiftright(col("__hv"), i).bitwiseAND(1) === 1, 1).otherwise(-1)) > 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .withColumn("__hv", hv)
      .groupBy(col(idCol))
      .agg(bits.as("simhash"))
  }

  /** Pigeonhole band layout for simhash pairing: `maxHamming + 1` bands of
    * near-equal width over `bits` bits → (band, startBit, width). Two values
    * within hamming ≤ maxHamming must agree exactly on at least one band. */
  def bandLayout(bits: Int, maxHamming: Int): Seq[(Int, Int, Int)] = {
    val nBands = maxHamming + 1
    require(bits >= nBands, s"need at least $nBands bits for maxHamming=$maxHamming")
    val base = bits / nBands
    val rem = bits % nBands
    (0 until nBands).map { b =>
      val start = b * base + math.min(b, rem)
      val width = base + (if (b < rem) 1 else 0)
      // a 64-bit band would overflow the (1L << width) - 1 mask to 0 and
      // silently collapse every row into ONE bucket (quadratic self-join)
      require(width < 64,
        s"band width $width would overflow the 64-bit mask (bits=$bits, maxHamming=$maxHamming)")
      (b, start, width)
    }
  }

  /** All pairs within hamming distance `maxHamming` of each other's simhash
    * — as a pure EQUI-join (never a cartesian product): the `bits`-bit value
    * is split into `maxHamming + 1` bit-bands ([[bandLayout]]); by
    * pigeonhole, any pair within the distance shares at least one band
    * verbatim, so candidates come from an equi-join on (band, band value)
    * and the exact `bit_count(xor)` check filters false positives. Exact
    * recall, shuffle O(docs × (maxHamming+1)).
    *
    * Input: (idCol, simhashCol: bigint). Output: (id_a, id_b, dist) with
    * id_a < id_b. */
  def simhashPairs(df: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int, bits: Int = 60): DataFrame = {
    val bandStructs = bandLayout(bits, maxHamming).map { case (b, start, width) =>
      struct(lit(b).as("band"),
        shiftright(col("__sh"), start).bitwiseAND(lit((1L << width) - 1)).as("bv"))
    }
    // both self-join sides re-derive the input subtree — and the caller's
    // simhash is typically an explode+aggregate over every word of the
    // corpus. Cache the narrow (id, simhash) relation once, lazily; the
    // band explode over cached rows is bit algebra.
    val banded = df
      .select(col(idCol).as("__id"), col(simhashCol).as("__sh"))
      .localCheckpoint(eager = false)
      .select(col("__id"), col("__sh"), explode(array(bandStructs: _*)).as("__b"))
      .select(col("__id"), col("__sh"),
        col("__b.band").as("band"), col("__b.bv").as("bv"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"),
        hamming(col("x.__sh"), col("y.__sh")).as("dist"))
      .where(col("dist") <= maxHamming)
      .distinct()
  }

  /** Hamming distance between two simhash columns — pure Column API (never
    * string-interpolated SQL, which breaks on names needing backticks). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------------------
  // Cluster resolution: candidate/verified PAIRS → per-document keep-set.
  // Every dedup path above ends at (id_a, id_b) pairs; a training-data
  // user's deliverable is the deduplicated corpus, which needs connected
  // components over the pair graph. At corpus scale that must be an
  // iterative edge-rewriting loop (small-star/large-star, Kiveris et al.,
  // "Connected Components in MapReduce and Beyond", SoCC'14 — public
  // algorithm), never a driver-side union-find: the driver would need
  // every edge in memory.
  // ------------------------------------------------------------------

  /** One large-star round: every node u hooks its LARGER neighbors to
    * m = min(N(u) ∪ {u}). Pure groupBy(min) + equi-join — partial
    * aggregation keeps hot roots (million-member clusters) map-side. */
  private def largeStar(e: DataFrame): DataFrame = {
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val mins = und.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    // no trailing distinct: the v > u filter already bounds the output at
    // |E| rows (one per undirected edge, seen from its smaller endpoint),
    // and smallStar's terminal distinct canonicalizes the round's edge SET
    // — dropping the dedup here removes one exchange per round
    und.join(mins, "u")
      .where(col("v") > col("u"))
      .select(least(col("v"), col("m")).as("src"), greatest(col("v"), col("m")).as("dst"))
      .where(col("src") =!= col("dst"))
  }

  /** One small-star round: every node u hooks its SMALLER neighbors (and
    * itself) to the minimum of those neighbors. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
    val mins = or.groupBy(col("u")).agg(min(col("v")).as("m"))
    or.join(mins, "u")
      .select(least(col("v"), col("m")).as("src"), greatest(col("v"), col("m")).as("dst"))
      .union(mins.select(least(col("u"), col("m")).as("src"),
        greatest(col("u"), col("m")).as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
  }

  /** Connected-component resolution of a near-dup pair graph:
    * (id, cluster_id, keep) for every id appearing in `pairs`, where
    * cluster_id is the component minimum and `keep` marks the canonical
    * keeper (the minimum itself). Pair orientation and duplicates don't
    * matter.
    *
    * Alternates large-star/small-star until the edge set reaches its
    * fixpoint (a star per component), detected DIRECTLY: with the src<dst
    * orientation both stars maintain, the edge set is a fixpoint exactly
    * when it is a star forest — no dst appears twice and no node is both
    * src and dst (each component then is a star, and its root is the
    * component minimum because any smaller node would have to appear as a
    * dst somewhere, which the orientation forbids). The direct test
    * converges one round earlier than a change-detection checksum (which
    * must run an extra no-op round to observe "nothing changed") and
    * skips the fixpoint loop ENTIRELY for pair graphs that are already
    * star forests — the common LSH output of isolated near-dup pairs and
    * small first-linked clusters. O(log²) rounds on worst-case path
    * graphs. Each round's result is lazily localCheckpoint'ed (the
    * convergence-test job materializes it — one job, not two) to truncate
    * the iterative lineage (swap for reliable checkpoint() on a real
    * cluster). Throws IllegalStateException after `maxIters` rounds —
    * convergence is a correctness precondition for the star→cluster read. */
  def resolveClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIters: Int = 50): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    var edges = pairs
      .select(least(col(idA), col(idB)).as("src"), greatest(col(idA), col(idB)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(eager = false)

    // star-forest fixpoint test: one partial-agg pass over 2|E| narrow
    // rows; empty edge sets are trivially converged
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("dst").as("n"), lit(0L).as("s"), lit(1L).as("d"))
        .union(e.select(col("src").as("n"), lit(1L).as("s"), lit(0L).as("d")))
        .groupBy(col("n")).agg(sum(col("s")).as("sc"), sum(col("d")).as("dc"))
        .where(col("dc") > 1 || (col("sc") > 0 && col("dc") > 0))
        .isEmpty

    var converged = isStarForest(edges)
    var it = 0
    while (!converged && it < maxIters) {
      val prev0 = edges
      edges = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      converged = isStarForest(edges)
      prev0.unpersist() // superseded checkpoint: ~log(diameter) rounds, one pinned edge copy each
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters did not converge in $maxIters rounds")

    // at the fixpoint every component is a star rooted at its minimum:
    // src = root, dst = member. The min-agg is defensive belt-and-braces.
    val nodes = pairs.select(col(idA).as("id"))
      .union(pairs.select(col(idB).as("id"))).distinct()
    val assign = edges.groupBy(col("dst").as("id")).agg(min(col("src")).as("__root"))
    nodes.join(assign, Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("cluster_id"))
      .withColumn("keep", col("id") === col("cluster_id"))
  }

  /** The deduplicated corpus: resolve the pair graph and anti-join every
    * non-keeper out of `docs`. Documents never mentioned in `pairs` pass
    * through untouched; each cluster survives as exactly one document (its
    * minimum id). */
  def dedupCorpus(docs: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b", maxIters: Int = 50): DataFrame = {
    val losers = resolveClusters(pairs, idA, idB, maxIters)
      .where(!col("keep"))
      .select(col("id").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** [[dedupCorpus]] with a per-cluster retention CAP instead of the
    * single-keeper rule: keep the `m` smallest ids of every near-dup
    * cluster (m = 1 reduces exactly to dedupCorpus; unpaired docs always
    * pass). The mixture-control variant — some pipelines deliberately
    * retain a bounded number of near-duplicates (effectively upweighting
    * canonical pages) instead of exactly one, and the cap makes that an
    * explicit deterministic knob.
    *
    * Scale shape: the ranking window partitions by RESOLVED cluster, so
    * its task size is bounded by the largest near-dup cluster — the same
    * bound [[resolveClusters]]' star fixpoint already carries — never by
    * the corpus. */
  def dedupCorpusCapped(docs: DataFrame, idCol: String, pairs: DataFrame,
      m: Int, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 50): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("id"))
    val losers = resolveClusters(pairs, idA, idB, maxIters)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") > m)
      .select(col("id").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** [[dedupCorpus]] with QUALITY-AWARE retention: each near-dup cluster
    * keeps its highest-`scoreCol` member (ties broken toward the smaller
    * id) instead of blindly keeping the minimum id. The retention rule a
    * production pipeline actually wants once a quality signal exists —
    * near-dup clusters usually mix a clean canonical page with mojibake
    * mirrors and ad-wrapped scrapes, and min-id retention picks among them
    * arbitrarily; scoring by [[graft.ops.Lm.lmScore]] or
    * [[graft.ops.Cleaning.gopherQualityGate]]-style stats keeps the copy
    * worth training on. `scoreCol` is read off `docs` itself (any numeric
    * column); docs in no pair always pass.
    *
    * Scale shape: cluster membership comes from [[resolveClusters]] (the
    * star fixpoint), scores reach members via one equi-join on the doc id
    * (the cluster-members side is pairs-sized, not corpus-sized), and the
    * per-cluster argmax is a window partitioned by RESOLVED cluster — task
    * size bounded by the largest near-dup cluster, exactly like
    * [[dedupCorpusCapped]], never by the corpus. */
  def dedupCorpusBest(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIters: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("__score").desc, col("id"))
    val losers = resolveClusters(pairs, idA, idB, maxIters)
      .join(docs.select(col(idCol).as("id"), col(scoreCol).as("__score")), Seq("id"))
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") > 1)
      .select(col("id").as("__loser"))
    docs.join(losers, docs(idCol) === col("__loser"), "left_anti")
  }

  /** Semantic dedup at cluster granularity — the SemDeDup operator a
    * pretraining pipeline actually runs (Abbas et al. 2023): assign every
    * embedding to an IVF centroid cell, pair within-cell above the cosine
    * threshold ([[graft.ops.Similarity.semanticNearDupPairs]] — pure
    * equi-join on the cell id, hot cells guarded), resolve the pair graph
    * to connected components ([[resolveClusters]]) and keep ONE document
    * per semantic cluster (the minimum id — same keeper rule as every
    * other dedup path). Documents in no pair pass through untouched.
    *
    * Recall is bounded by the cell assignment (a pair split across a cell
    * boundary is missed — the standard SemDeDup trade); `maxCell` drops
    * degenerate cells from pairing, audit via
    * [[graft.ops.Similarity.semanticOversizeCells]]. */
  def semanticDedup(docs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int, lloydIters: Int = 0,
      maxCell: Int = 4096, maxIters: Int = 50): DataFrame = {
    val pairs = Similarity.semanticNearDupPairs(docs, idCol, vecCol,
      threshold, nCentroids, lloydIters, maxCell)
      .select(col("id_a"), col("id_b"))
    dedupCorpus(docs, idCol, pairs, maxIters = maxIters)
  }

  /** Exact substring dedup — the Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better") operator, re-expressed for Spark:
    * every word-`k`-gram that occurs MORE THAN ONCE in the corpus is
    * removed from every occurrence except the globally first one
    * (min (id, position) — the same keep-first rule as every other dedup
    * path), and each document's text is rebuilt without the cut tokens.
    * A duplicated substring of length L ≥ k is covered by its L−k+1
    * duplicated k-gram starts, so maximal duplicated regions are removed
    * without ever materializing intervals: the cut unit is the token
    * POSITION (union of [p, p+k−1] over cut starts), not the span.
    *
    * This is deliberately NOT the suffix-array construction the paper
    * uses: a distributed suffix array needs global sorts of the whole
    * corpus, while the k-gram formulation is (a) one narrow explode
    * (n_tokens rows/doc — the same shape as [[graft.ops.Cleaning.decontaminate]]'s
    * shingles), (b) one partial hash-agg per gram hash — `(count,
    * min(struct(id, p)))` both partial-aggregable, so a boilerplate gram
    * repeated 10⁶ times collapses map-side instead of flooding one
    * reducer the way a `row_number() over (partition by hash)` window
    * would — and (c) one equi-join back on the hash. The semantic
    * difference vs suffix arrays (duplicates shorter than k are missed;
    * duplicates are detected at k-token granularity) is the standard
    * trade and is documented at the call site by the choice of k
    * (Lee et al. use 50 tokens).
    *
    * Returns one row per input document: (idCol, n_tokens, n_removed,
    * new_text). `n_removed` counts distinct removed token positions;
    * documents shorter than k tokens pass through unchanged. NULL text
    * passes through as (n_tokens = 0, n_removed = 0, new_text = NULL) —
    * without the explicit guard the rebuild would emit nonsense for null
    * docs (size(NULL) is -1 in legacy mode, and sequence() steps DOWNWARD
    * from 0 to size-1 = -2).
    *
    * Reference semantics: qetch has no corpus-level dedup; this extends
    * SURVEY.md §2C's training-data additions. */
  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50): DataFrame = {
    val withW = docs.select(col(idCol), split(col(textCol), " ").as("__w"))
    // gram starts: 0-based p, hash of tokens [p, p+k). sequence() steps
    // DOWNWARD when stop < start, so short docs need the explicit guard.
    val occ = withW
      .select(col(idCol).as("__id"), explode(expr(
        s"""IF(size(__w) < $k, array(),
           |  transform(sequence(0, size(__w) - $k),
           |    p -> struct(p AS p,
           |      md5(array_join(slice(__w, p + 1, $k), ' ')) AS h)))"""
          .stripMargin)).as("__o"))
      .select(col("__id"), col("__o.p").as("__p"), col("__o.h").as("__h"))
    // one row per duplicated hash, with its canonical first occurrence —
    // both aggregates partial-aggregable (no per-hash windows)
    val dups = occ.groupBy(col("__h"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("__id").as("id"), col("__p").as("p"))).as("__first"))
      .where(col("__cnt") > 1)
      .select(col("__h"), col("__first"))
    // every non-canonical occurrence of a duplicated gram is cut
    val cuts = occ.join(dups, "__h")
      .where(!(col("__id") === col("__first.id") &&
               col("__p") === col("__first.p")))
    // removed token positions per doc (distinct union of [p, p+k-1]);
    // bounded by the doc's own token count, so collect_set is safe
    val removed = cuts
      .select(col("__id"),
        explode(sequence(col("__p"), col("__p") + lit(k - 1))).as("__rp"))
      .groupBy(col("__id")).agg(collect_set(col("__rp")).as("__rm"))
    // rebuild: array_except over the position sequence keeps order and is
    // one hash-probe pass per doc (never O(n·removed) array_contains)
    withW
      .join(removed, withW(idCol) === removed("__id"), "left")
      .withColumn("__rm", coalesce(col("__rm"), expr("array()").cast("array<int>")))
      .select(col(idCol),
        when(col("__w").isNull, lit(0)).otherwise(size(col("__w")))
          .as("n_tokens"),
        size(col("__rm")).as("n_removed"),
        when(col("__w").isNull, lit(null).cast("string"))
          .otherwise(expr("""array_join(transform(
               |  array_except(sequence(0, size(__w) - 1), __rm),
               |  i -> element_at(__w, i + 1)), ' ')""".stripMargin))
          .as("new_text"))
  }
}
