package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k, broadcast probes × all
  *    candidates. The baseline; O(probes × corpus) but embarrassingly
  *    parallel and shuffle-free apart from the final top-k window.
  *  - [[lshTopK]]: sign-random-projection (hyperplane) LSH — deterministic
  *    pseudo-random hyperplanes derived from md5 of (plane, dim), bucket =
  *    sign-bit string, candidates searched only within each probe's bucket
  *    (plus optional 1-bit multiprobe). The 100TB path: corpus is hashed
  *    once (narrow), the join is an equi-join on bucket, never a cross
  *    join.
  *
  * All dot products run on the raw floats cast to double via zip_with +
  * aggregate — no UDF, stays in Catalyst.
  */
object Similarity {

  /** The ONE spelling of the L2 norm and dot product every ANN operator
    * (and the streaming index's admission gate) uses — cast-to-double
    * order and the 0D seed are part of the numeric spec the DuckDB
    * oracles replay, so they must not be re-derived per call site. */
  private[graft] def norm(a: String) =
    expr(s"sqrt(aggregate($a, 0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))")

  private[graft] def dot(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)")

  /** Exact cosine top-k: for each probe row, the k nearest corpus rows.
    * Probes must be small (broadcast). Returns (probe_id, cand_id, cosine,
    * rn). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm("__cv"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .withColumn("__pn", norm("__pv"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    broadcast(p).join(c, col("probe_id") =!= col("cand_id"))
      .withColumn("cosine", dot("__pv", "__cv") / (col("__pn") * col("__cn")))
      .select(col("probe_id"), col("cand_id"), col("cosine"), row_number().over(w).as("rn"))
      .where(col("rn") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * md5-derived value in [-0.5, 0.5). Pure SQL, no RNG state. */
  private def planesExpr(nPlanes: Int, dims: Int): String =
    s"""transform(sequence(0, ${nPlanes - 1}), p ->
       |  transform(sequence(0, ${dims - 1}), d ->
       |    (cast(conv(substring(md5(concat('plane', p, ':', d)), 1, 6), 16, 10) as double)
       |     / 16777216.0) - 0.5))""".stripMargin

  /** Sign-random-projection bucket (bit string of length nPlanes) for a
    * vector column. */
  def srpBucket(df: DataFrame, vecCol: String, nPlanes: Int, dims: Int): DataFrame =
    df.withColumn("__planes", expr(planesExpr(nPlanes, dims)))
      .withColumn("bucket", expr(
        s"""concat_ws('', transform(__planes, pl ->
           |  CASE WHEN aggregate(zip_with(pl, $vecCol, (w, x) -> w * cast(x as double)),
           |                      0D, (acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END))"""
          .stripMargin))
      .drop("__planes")

  /** The probe's bucket plus its `nPlanes` 1-bit flips — standard 1-bit
    * multiprobe: a true neighbor on the far side of ONE hyperplane lands in
    * a bucket at hamming distance 1, so probing the flips recovers most of
    * the recall lost to plane quantization while the corpus side stays
    * hashed exactly once. Pure string algebra (portable to the SQL oracle;
    * public so the oracle-gated query surface shares THIS definition). */
  def multiprobeBuckets(nPlanes: Int, bucketCol: String = "bucket"): String =
    s"""transform(sequence(0, $nPlanes), i ->
       |  CASE WHEN i = 0 THEN $bucketCol
       |       ELSE concat(substring($bucketCol, 1, i - 1),
       |                   CASE WHEN substring($bucketCol, i, 1) = '1' THEN '0' ELSE '1' END,
       |                   substring($bucketCol, i + 1)) END)""".stripMargin

  /** LSH cosine top-k: equi-join probes and corpus on the SRP bucket, rank
    * within bucket. Recall < 1 by construction (trades recall for a
    * shuffle-free equi-join); raise nPlanes for precision, lower for
    * recall — or set `multiprobe = true` to additionally search every
    * 1-bit-flipped probe bucket (≈(nPlanes+1)× candidates, recall recovered
    * without rehashing the corpus). */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int, dims: Int,
      multiprobe: Boolean = false): DataFrame = {
    val c = srpBucket(corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv")), "__cv", nPlanes, dims)
      .withColumn("__cn", norm("__cv"))
    val p0 = srpBucket(probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv")), "__pv", nPlanes, dims)
      .withColumn("__pn", norm("__pv"))
    val p =
      if (!multiprobe) p0
      else p0.withColumn("bucket", explode(expr(multiprobeBuckets(nPlanes))))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    p.join(c, p("bucket") === c("bucket") && col("probe_id") =!= col("cand_id"))
      .withColumn("cosine", dot("__pv", "__cv") / (col("__pn") * col("__cn")))
      .select(col("probe_id"), col("cand_id"), col("cosine"), row_number().over(w).as("rn"))
      .where(col("rn") <= k)
  }

  /** Embedding-cosine near-duplicate pairs: all (id_a, id_b, cosine) with
    * cosine ≥ threshold — the embedding-space member of the dedup family
    * (beside exact / MinHash-LSH / SimHash / n-gram Jaccard). Scale shape:
    * candidates come from the SRP bucket equi-join (both sides hashed once,
    * never a cross join; `multiprobe` widens recall), then exact cosine
    * verifies. Recall < 1 by LSH construction — raise via multiprobe or
    * lower nPlanes, or run per-cluster exact passes downstream. */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int, dims: Int,
      multiprobe: Boolean = false, maxBucket: Int = 4096): DataFrame = {
    // the bucketed relation feeds the guard count AND both self-join sides
    // — cache it lazily so the SRP hash (nPlanes dot products per vector)
    // runs once per corpus, not once per consumer (same compute-once
    // discipline as lshCandidatePairs / semanticNearDupPairs)
    val b0 = Pin(srpBucket(corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")),
        "__v", nPlanes, dims)
      .withColumn("__n", norm("__v")))
    // hot-bucket guard, same rationale as Dedup.lshCandidatePairs: a
    // cluster of identical embeddings shares one SRP bucket and would
    // self-join quadratically — dedup exact-duplicate vectors first
    // (exactDedup on a vector hash), cap the rest. 0 disables. The counter
    // is a partial-aggregating groupBy joined back, never a window (a
    // window would buffer the hot bucket in one task — the exact hazard
    // the guard exists to prevent).
    val b =
      if (maxBucket <= 0) b0
      else {
        val small = b0.groupBy(col("bucket")).agg(count(lit(1)).as("__bn"))
          .where(col("__bn") <= maxBucket)
          .select(col("bucket"))
        b0.join(small, Seq("bucket"))
      }
    val left =
      if (!multiprobe) b
      else b.withColumn("bucket", explode(expr(multiprobeBuckets(nPlanes))))
    left.as("x").join(b.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.__id") < col("y.__id"))
      .withColumn("cosine", dot("x.__v", "y.__v") / (col("x.__n") * col("y.__n")))
      .where(col("cosine") >= threshold)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"), col("cosine"))
      .distinct()
  }

  /** SemDeDup-style within-cell near-dup pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — public construction): assign every vector to its
    * nearest IVF centroid cell ONCE, then pair only within a cell by exact
    * cosine ≥ threshold. The cell assignment bounds the pair search — the
    * join is a pure equi-join on the cell id, never an all-pairs product —
    * at the standard SemDeDup recall trade: a near-dup pair split across a
    * cell boundary is missed by construction (raise nCentroids for purity,
    * lower for recall; the paper runs k-means cells the same way).
    *
    * `maxCell` guards degenerate cells exactly like the LSH hot-bucket
    * guard (a cell of identical embeddings would self-join quadratically):
    * cells larger than it are DROPPED from pairing — audit what was
    * dropped via [[semanticOversizeCells]]; 0 disables. The guard counter
    * is a partial-agg groupBy joined back, never a window. */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCentroids: Int, lloydIters: Int = 0,
      maxCell: Int = 4096): DataFrame = {
    // the assignment feeds three consumers (the cell-size guard and both
    // sides of the pairing self-join) — pin it lazily so the
    // centroid ranking runs ONCE per corpus, not once per consumer (the
    // same corpus-sized compute-once discipline as the incremental-dedup
    // delta frames; MEMORY_AND_DISK, spills at scale)
    val assigned0 = Pin(assignCells(corpus, idCol, vecCol, nCentroids, lloydIters))
    val assigned =
      if (maxCell <= 0) assigned0
      else {
        val small = assigned0.groupBy(col("__cell")).agg(count(lit(1)).as("__cn"))
          .where(col("__cn") <= maxCell)
          .select(col("__cell"))
        assigned0.join(small, Seq("__cell"))
      }
    assigned.as("x").join(assigned.as("y"),
        col("x.__cell") === col("y.__cell") && col("x.__id") < col("y.__id"))
      .withColumn("cosine", dot("x.__v", "y.__v") / (col("x.__n") * col("y.__n")))
      .where(col("cosine") >= threshold)
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"), col("cosine"))
      .distinct()
  }

  /** CROSS-corpus semantic hits — the embedding analog of n-gram
    * benchmark decontamination ([[graft.ops.Cleaning.decontaminate]]):
    * for every corpus vector, count the BENCH vectors within cosine ≥
    * `threshold`, searching only shared IVF cells. Centroids are seeded
    * and (optionally) Lloyd-refined from the BENCH side — the fixed
    * reference set the search protects, and the small side — then both
    * sides are assigned: bench to its single nearest cell, corpus to its
    * `nProbe` nearest (multiprobe recovers corpus vectors that fall just
    * across a cell boundary from their bench near-dup — the standard IVF
    * probe trade, same knob as [[ivfTopK]]). Returns one row per corpus
    * vector WITH ≥1 hit: `(idCol, n_hits)`.
    *
    * Scale shape: the bench side (eval suites — thousands of vectors) is
    * BROADCAST after assignment, so the cell match is a broadcast
    * equi-join; per-corpus-row work is bounded by the largest bench CELL
    * (≤ bench size), so no hot-cell guard is needed — unlike the
    * self-join in [[semanticNearDupPairs]] there is no quadratic corpus
    * term to cap, and capping would silently UNDER-decontaminate. The
    * corpus-side cost is the assign itself: zero-shuffle in-row ranking
    * up to [[CodebookLiteralMax]] centroids; above it, one broadcast
    * codebook join + one per-id hash agg (see [[cellRanks]] — never a
    * window sort). A (corpus, bench) pair can meet in at most one cell
    * (the bench side holds exactly one), so hits are never
    * double-counted across probes. */
  def semanticCrossHits(corpus: DataFrame, bench: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nCentroids: Int, nProbe: Int = 1,
      lloydIters: Int = 0): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val cents = refineCentroids(bench, vecCol,
      seedCentroids(bench, idCol, vecCol, nCentroids), lloydIters)
    def asg(df: DataFrame, probes: Int) =
      cellRanks(df.select(col(idCol).as("__id"), col(vecCol).as("__v")),
          "__id", "__v", cents, maxRank = probes)
        .withColumn("__n", norm("__v"))
        .drop("__rk")
    asg(corpus, nProbe).as("x")
      .join(broadcast(asg(bench, 1).as("y")), col("x.__cell") === col("y.__cell"))
      .withColumn("cosine", dot("x.__v", "y.__v") / (col("x.__n") * col("y.__n")))
      .where(col("cosine") >= threshold)
      .groupBy(col("x.__id").as(idCol))
      .agg(count(lit(1)).cast("int").as("n_hits"))
  }

  /** The cells [[semanticNearDupPairs]] would drop at `maxCell`, with
    * member counts — the audit/log surface (no silent caps). */
  def semanticOversizeCells(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, lloydIters: Int, maxCell: Int): DataFrame =
    assignCells(corpus, idCol, vecCol, nCentroids, lloydIters)
      .groupBy(col("__cell").as("cell")).agg(count(lit(1)).as("members"))
      .where(col("members") > maxCell)

  /** One IVF cell per vector: (__id, __v, __n = L2 norm, __cell), seeds
    * deterministic ([[seedCentroids]]), optionally Lloyd-refined. */
  private def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, lloydIters: Int): DataFrame = {
    val cents = refineCentroids(corpus, vecCol,
      seedCentroids(corpus, idCol, vecCol, nCentroids), lloydIters)
    cellRanks(corpus.select(col(idCol).as("__id"), col(vecCol).as("__v")),
        "__id", "__v", cents, maxRank = 1)
      .withColumn("__n", norm("__v"))
      .drop("__rk")
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path beside SRP-LSH: a
  // coarse quantizer assigns every corpus vector to its nearest centroid
  // once; a probe searches only its nProbe nearest centroid cells, so the
  // search is a pure EQUI-join on centroid id — never a cross join.
  // Centroid seeds are a deterministic md5-ordered sample (no RNG state),
  // optionally refined with Lloyd iterations computed as Spark
  // aggregations (explode dims → per-(cell, dim) mean). The codebook lives
  // on the driver (nCentroids × dims doubles) and reaches executors either
  // as a plan literal (small codebooks — narrow, zero-shuffle assign) or
  // as a broadcast DataFrame equi-join (large codebooks — the plan must
  // never embed 65k×768 doubles); see [[cellRanks]].
  // ------------------------------------------------------------------

  /** Squared-L2 rank list over the `__cents` literal column: SQL for an
    * array of struct(d, i) sorted ascending — element [0] is the nearest
    * centroid, ties broken by centroid index (deterministic). */
  private def centRanksSql(nCents: Int, vecCol: String): String =
    s"""array_sort(transform(sequence(0, ${nCents - 1}), i ->
       |  named_struct('d',
       |    aggregate(zip_with(element_at(__cents, i + 1), $vecCol,
       |      (a, b) -> (a - cast(b as double)) * (a - cast(b as double))),
       |      0D, (acc, v) -> acc + v),
       |    'i', i)))""".stripMargin

  /** Codebooks up to this many centroids inline into the plan as a
    * `typedLit` (a narrow zero-shuffle assign); LARGER codebooks must never
    * be plan literals — at production sizes (e.g. 65k centroids × 768 dims)
    * a literal blows up plan size and codegen — so they take the
    * broadcast-join path in [[cellRanks]]. */
  val CodebookLiteralMax = 64

  /** Ranked centroid cells per vector: (all input columns, __cell, __rk)
    * with __rk = 1..maxRank ascending by (squared-L2, centroid id).
    *
    * PRECONDITION: `idCol` is unique. The large-codebook path regroups
    * the exploded candidates per id (and so did the old per-id window it
    * replaced): duplicate ids would merge both rows' candidate cells and
    * pair them with one arbitrarily-chosen vector. Every caller feeds
    * unique ids (corpus/probe keys); dedupe first if yours are not.
    *
    * Physical shape by codebook size:
    *  - ≤ [[CodebookLiteralMax]]: `typedLit` codebook + in-row rank array —
    *    narrow, zero shuffle (the original IVF assign).
    *  - larger: the codebook becomes a broadcast DataFrame equi-joined on an
    *    exploded centroid id (BroadcastHashJoin — PlanSpec asserts it), then
    *    a partial-aggregating `min_by` per vector for maxRank=1, or a
    *    per-vector in-row rank (hash agg + array_sort of the nCents
    *    candidates) for probe fan-out — never a window: a window over the
    *    corpus×nCents exploded frame would SORT every exchange partition
    *    (measured 159 s vs 36 s on 2M docs × 256 cells, CleanBench #12). */
  private[graft] def cellRanks(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]], maxRank: Int): DataFrame = {
    val n = cents.length
    if (n <= CodebookLiteralMax) {
      df.withColumn("__cents", typedLit(cents))
        .withColumn("__ranked", expr(
          s"slice(${centRanksSql(n, vecCol)}, 1, $maxRank)"))
        .select(col("*"), posexplode(col("__ranked")).as(Seq("__rk0", "__r")))
        .withColumn("__cell", col("__r.i"))
        .withColumn("__rk", col("__rk0") + 1)
        .drop("__cents", "__ranked", "__rk0", "__r")
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      cellRanksByDf(df, idCol, vecCol,
        cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("__cid", "__cv"),
        n, maxRank)
    }
  }

  /** The broadcast-join assign path of [[cellRanks]], taking the codebook
    * as a DATAFRAME (__cid, __cv) — the form the DataFrame-side Lloyd loop
    * feeds so no round ever collects the codebook to the driver. The
    * centroid vector is renamed to a private name before the join: callers
    * (ivfTopK and friends) legitimately name THEIR vector column "__cv",
    * and a collision would be an ambiguous-reference crash exactly in the
    * large-codebook regime this path exists for. */
  private[graft] def cellRanksByDf(df: DataFrame, idCol: String, vecCol: String,
      centsDf: DataFrame, n: Int, maxRank: Int): DataFrame = {
      val cents = centsDf.withColumnRenamed("__cv", "__centv")
      val sqd = expr(s"""aggregate(zip_with(__centv, $vecCol,
        |  (a, b) -> (a - cast(b as double)) * (a - cast(b as double))),
        |  0D, (acc, v) -> acc + v)""".stripMargin)
      val exploded = df
        .withColumn("__cid", explode(expr(s"sequence(0, ${n - 1})")))
        .join(broadcast(cents), "__cid")
        .withColumn("__sqd", sqd)
        .drop("__centv")
      if (maxRank == 1) {
        // partial aggregation collapses the nCents candidate rows map-side;
        // the shuffle carries one row per vector.
        val others = df.columns.filterNot(_ == idCol)
        exploded.groupBy(col(idCol))
          .agg(min_by(col("__cid"), struct(col("__sqd"), col("__cid"))).as("__cell"),
            others.map(c => first(col(c)).as(c)): _*)
          .withColumn("__rk", lit(1))
          .select(df.columns.map(col) :+ col("__cell") :+ col("__rk"): _*)
      } else {
        // top-maxRank per vector WITHOUT a window: a window over this
        // exploded frame (corpus × nCents rows) would sort every exchange
        // partition by (id, sqd) — at web scale that sort dominates the
        // assign. Collecting the nCents candidates back per id costs the
        // same exchange volume, but the rank sort happens INSIDE each
        // row's bounded array (nCents elements), and ties break on
        // (__sqd, __cid) struct order exactly like the window did.
        val others = df.columns.filterNot(_ == idCol)
        exploded.groupBy(col(idCol))
          .agg(expr(s"slice(array_sort(collect_list(struct(__sqd, __cid))), 1, $maxRank)")
              .as("__top"),
            others.map(c => first(col(c)).as(c)): _*)
          .select(df.columns.map(col) :+ posexplode(col("__top")).as(Seq("__rk0", "__r")): _*)
          .withColumn("__cell", col("__r.__cid"))
          .withColumn("__rk", (col("__rk0") + 1).cast("int"))
          .select(df.columns.map(col) :+ col("__cell") :+ col("__rk"): _*)
      }
  }

  /** Deterministic centroid seeds: the `n` corpus vectors first in
    * md5(id) order (a seedless, reproducible pseudo-random sample). */
  def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String, n: Int): Seq[Seq[Double]] =
    corpus.select(col(vecCol).cast("array<double>").as("__v"),
        md5(col(idCol).cast("string")).as("__o"))
      .orderBy(col("__o")).limit(n)
      .collect().map(_.getSeq[Double](0).toSeq).toSeq

  /** `iters` Lloyd refinements of `cents` over the corpus: assign → mean
    * per (cell, dim) → rebuild. The loop is DATAFRAME-side end to end:
    * the centroid table lives as a (cell, vector) relation between
    * rounds (pinned eagerly through [[graft.Pin.Rounds]], the superseded
    * round released — nCentroids rows), the assign is the
    * broadcast-join [[cellRanksByDf]], the update is one
    * groupBy(cell, dim) mean joined back onto the previous centroids
    * (empty cells keep their value via the left-join coalesce), and the
    * ONLY driver collect is the final codebook — which must reach the
    * driver anyway (broadcast seed / LUT construction). Nothing
    * per-round scales with nCentroids × dims through the driver: at the
    * 65k × 768 production shape each round moves ~50M mean rows
    * executor-to-executor only. */
  def refineCentroids(corpus: DataFrame, vecCol: String,
      cents: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    if (iters <= 0 || cents.isEmpty) return cents
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = cents.length
    val rounds = new Pin.Rounds
    var centsDf = rounds.now(cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__cid", "__cv"))
    (0 until iters).foreach { _ =>
      val means = cellRanksByDf(
          corpus.select(col(vecCol)).withColumn("__vid", monotonically_increasing_id()),
          "__vid", vecCol, centsDf, n, maxRank = 1)
        .select(col("__cell"), posexplode(col(vecCol).cast("array<double>")).as(Seq("__d", "__x")))
        .groupBy(col("__cell").as("__cid"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
      val prevExpl = centsDf
        .select(col("__cid"), posexplode(col("__cv")).as(Seq("__d", "__pv")))
      centsDf = rounds.now(prevExpl.join(means, Seq("__cid", "__d"), "left")
        .select(col("__cid"), col("__d"), coalesce(col("__m"), col("__pv")).as("__v"))
        .groupBy(col("__cid"))
        .agg(expr("transform(array_sort(collect_list(struct(__d, __v))), s -> s.__v)")
          .as("__cv")))
    }
    centsDf.orderBy(col("__cid"))
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
  }

  // ------------------------------------------------------------------
  // AT-REST IVF index — the ANN analog of the persisted dedup index
  // (ops/dedup.scala buildIndex): train/seed the codebook ONCE, assign
  // every corpus vector to its cell, and write the corpus PARTITIONED BY
  // cell. A probe batch then reads only its nProbe cell partitions via a
  // partition `IN` filter — at 100 TB the scan cost of a query batch is
  // (nProbe / nCentroids) × corpus bytes instead of the whole table, and
  // the (expensive) Lloyd training amortizes over every query against
  // the same index instead of rerunning per job ([[ivfTopK]] retrains
  // in-query; it remains the right call for one-shot corpus-vs-corpus
  // jobs where no index will be reused).
  // ------------------------------------------------------------------

  /** Build an at-rest IVF index under `path`: `path/centroids` holds the
    * codebook as (cell INT, cv ARRAY<DOUBLE>) — nCentroids rows, one file —
    * and `path/cells` holds every corpus row plus its assignment, written
    * `partitionBy("cell")` so probes can partition-prune. All input columns
    * are carried through: the index co-locates the full payload (id,
    * vector, any metadata) by cell. Codebook seeds are the deterministic
    * md5-ordered sample ([[seedCentroids]]), optionally Lloyd-refined
    * (`lloydIters` > 0) — training state stays executor-side
    * ([[refineCentroids]]); the only driver transit is the final codebook,
    * which must reach the driver anyway to be written. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, lloydIters: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = refineCentroids(corpus, vecCol,
      seedCentroids(corpus, idCol, vecCol, nCentroids), lloydIters)
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    cellRanks(corpus, idCol, vecCol, cents, maxRank = 1)
      .withColumn("cell", col("__cell").cast("int"))
      .drop("__cell", "__rk")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Append new vectors to an existing at-rest index WITHOUT retraining:
    * assign against the stored codebook (so old and new rows agree on cell
    * geometry) and append to the partitioned cells table — the incremental
    * ingest path (the dedup-index analog is `admitIndexedBatch`). Appended
    * rows land in new files inside their cell directories; queries see the
    * union. The codebook is NOT re-fit — after heavy drift, rebuild. */
  def ivfIndexAppend(rows: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = rows.sparkSession
    val cents = loadCodebook(spark, path)
    cellRanks(rows, idCol, vecCol, cents, maxRank = 1)
      .withColumn("cell", col("__cell").cast("int"))
      .drop("__cell", "__rk")
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** The stored codebook, cell-ordered (tiny: nCentroids × dims). */
  private def loadCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$path/centroids").orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1).toSeq).toSeq

  /** IVF cosine top-k against an AT-REST index built by [[buildIvfIndex]]:
    * rank each probe's `nProbe` nearest cells against the stored codebook,
    * then scan `path/cells` with `cell IN (probed cells)` — a PARTITION
    * filter (PlanSpec asserts it reaches the scan), so only the probed
    * cells' bytes are read. The probed-cell set is collected to the driver
    * to become the literal `IN` list — config-sized (≤ probes × nProbe,
    * and ≤ nCentroids absolutely), the same bounded-collect contract as
    * dedup's pruneBucket. Probe batches are request-like (bounded); for a
    * corpus-scale probe side use [[ivfTopK]], whose cell join needs no
    * literal pruning. Returns (probe_id, cand_id, cosine, rn ≤ k), exact
    * cosine within the probed cells, ties → lowest cand_id. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int): DataFrame = {
    val cents = loadCodebook(spark, path)
    val (p, probedCells) = rankProbes(probes, idCol, vecCol, cents, nProbe)
    val cands = spark.read.parquet(s"$path/cells")
      .where(col("cell").isin(probedCells.map(c => c: Any): _*))
    topKWithinCells(p, cands, idCol, vecCol, k)
  }

  /** Probe-side half of an indexed IVF search, shared by the at-rest
    * [[ivfTopKIndexed]] and the manifest-committed streaming index
    * ([[graft.streaming.VectorIndexStream]]) so their decisions are the
    * same plan by construction: rank every probe's `nProbe` nearest cells
    * against `cents`, pin once (the ranking feeds both the
    * prune and the join), and return the deduped probed-cell list — the
    * config-sized collect (≤ probes × nProbe, ≤ nCentroids absolutely)
    * that becomes the pruning literal. */
  private[graft] def rankProbes(probes: DataFrame, idCol: String,
      vecCol: String, cents: Seq[Seq[Double]],
      nProbe: Int): (DataFrame, Seq[Int]) = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    require(nProbe <= cents.length,
      s"nProbe $nProbe exceeds the index's ${cents.length} cells")
    // ranked once; reused for the prune AND the join (lazy — the prune
    // collect right below materializes it)
    val p = Pin(cellRanks(
        probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv")),
        "probe_id", "__pv", cents, maxRank = nProbe)
      .withColumn("__pn", norm("__pv"))
      .withColumn("cell", col("__cell").cast("int"))
      .drop("__cell", "__rk"))
    val probedCells = p.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted // config-sized: ≤ nCentroids
    (p, probedCells)
  }

  /** Candidate-side half: exact cosine top-k of ranked probes (from
    * [[rankProbes]]: probe_id, __pv, __pn, cell) against candidate rows
    * (`idCol`, `vecCol`, cell) — a pure equi-join on the cell id, ties →
    * lowest cand_id, identical to the in-query [[ivfTopK]] ranking. */
  private[graft] def topKWithinCells(p: DataFrame, candRows: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cands = candRows
      .withColumnRenamed(idCol, "cand_id")
      .withColumnRenamed(vecCol, "__cv")
      .withColumn("__cn", norm("__cv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    p.join(cands, Seq("cell"))
      .where(col("probe_id") =!= col("cand_id"))
      .withColumn("cosine", dot("__pv", "__cv") / (col("__pn") * col("__cn")))
      .select(col("probe_id"), col("cand_id"), col("cosine"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= k)
  }

  /** IVF cosine top-k: corpus assigned to its nearest centroid cell once;
    * each probe explodes to its `nProbe` nearest cells; candidates come
    * from an equi-join on the cell id and are ranked by exact cosine.
    * Recall grows with nProbe (nProbe = nCentroids ⇒ exact search). */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int, nProbe: Int,
      lloydIters: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCentroids)
    val cents = refineCentroids(
      corpus, vecCol, seedCentroids(corpus, idCol, vecCol, nCentroids), lloydIters)
    val c = cellRanks(
        corpus.select(col(idCol).as("cand_id"), col(vecCol).as("__cv")),
        "cand_id", "__cv", cents, maxRank = 1)
      .withColumn("__cn", norm("__cv"))
      .drop("__rk")
    val p = cellRanks(
        probes.select(col(idCol).as("probe_id"), col(vecCol).as("__pv")),
        "probe_id", "__pv", cents, maxRank = nProbe)
      .withColumn("__pn", norm("__pv"))
      .drop("__rk")
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col("cand_id").asc)
    p.join(c, p("__cell") === c("__cell") && col("probe_id") =!= col("cand_id"))
      .withColumn("cosine", dot("__pv", "__cv") / (col("__pn") * col("__cn")))
      .select(col("probe_id"), col("cand_id"), col("cosine"), row_number().over(w).as("rn"))
      .where(col("rn") <= k)
  }

  /** SSL-PROTOTYPE pruning (Sorscher et al. 2022 "Beyond neural scaling
    * laws"; the pruning half of D4, Tirumala et al. 2023 — the dedup half
    * is [[graft.ops.Dedup.semanticDedup]]): in the abundant-data regime
    * the most PROTOTYPICAL examples — closest to their cluster centroid —
    * are the least informative, so drop each cell's most-prototypical
    * `dropBp` basis points and keep the tail.
    *
    * Mechanics: deterministic seeds ([[seedCentroids]], md5-id order) +
    * optional DataFrame-side Lloyd refinement, single-cell assign
    * ([[cellRanks]] — typedLit or broadcast-join by codebook size),
    * prototypicality = cosine(vec, own centroid) (the shared fixed-order
    * [[dot]]/[[norm]] folds, so both engines produce bit-identical
    * doubles), then per-cell rank by (proto desc, id) against a per-cell
    * count — the drop boundary `(n_cell * dropBp) div 10000` is INTEGER
    * math and prunes proportionally in EVERY cluster (D4's per-cluster
    * rule: a giant cluster cannot eat the whole budget, an empty tail
    * cell drops nothing). The rank and count share one (cell)-partitioned
    * sort; cell sizes are the same bounded-by-construction quantity
    * [[semanticOversizeCells]] audits before the semantic-dedup pass.
    *
    * Returns the KEPT rows: (idCol, cell, proto) with proto the raw
    * cosine — callers round for cross-engine compares. A ZERO-NORM vector
    * (all components zero, e.g. everything floored away by an integer
    * quantization) scores the −2.0 sentinel, below any real cosine, so it
    * ranks LEAST prototypical and is never dropped ahead of a real row —
    * the unguarded 0/0 would be NaN, which Spark's descending sort places
    * FIRST (always-pruned, silently) and which NULL/NaN-orders differently
    * in DuckDB, drifting the cross-engine rank. */
  def prototypePrune(corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, dropBp: Int, lloydIters: Int = 0): DataFrame = {
    require(dropBp >= 0 && dropBp <= 10000,
      s"dropBp must be in [0, 10000], got $dropBp")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents0 = seedCentroids(corpus, idCol, vecCol, nCentroids)
    val cents =
      if (lloydIters > 0) refineCentroids(corpus, vecCol, cents0, lloydIters)
      else cents0
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("__cell", "__protocv")
    val scored = cellRanks(corpus, idCol, vecCol, cents, maxRank = 1)
      .drop("__rk")
      .join(broadcast(centsDf), "__cell")
      .withColumn("__proto",
        when(norm(vecCol) === 0d || norm("__protocv") === 0d, lit(-2.0d))
          .otherwise(dot(vecCol, "__protocv") / (norm(vecCol) * norm("__protocv"))))
    val byCell = Window.partitionBy(col("__cell"))
    scored
      .withColumn("__prk", row_number().over(
        byCell.orderBy(col("__proto").desc, col(idCol))))
      .withColumn("__pcnt", count(lit(1)).over(byCell))
      .where(col("__prk") > expr(s"(__pcnt * $dropBp) div 10000"))
      .select(col(idCol), col("__cell").as("cell"), col("__proto").as("proto"))
  }
}
