package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pin

/** Product quantization (PQ) — the memory-bounded ANN path beside IVF and
  * SRP-LSH: vectors are split into `m` subspaces, each subspace gets its
  * own small codebook (k centroids of dims/m values), and a vector is
  * stored as `m` small codes instead of `dims` floats (e.g. 768 floats →
  * 96 bytes). Search uses asymmetric distance computation (ADC): the probe
  * precomputes a (m × k) lookup table of exact subspace distances once,
  * and every corpus candidate costs `m` table lookups — no float math per
  * candidate. Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", TPAMI 2011 — the standard construction, realized as Spark
  * plans:
  *  - the CODEBOOK is driver-side config-sized state (m × k × dims/m
  *    doubles) and reaches executors as a BROADCAST DataFrame keyed by
  *    subspace — never a plan literal (the IVF lesson: 96 subspaces × 256
  *    codes × 8 dims would blow up the plan);
  *  - ENCODING is explode(subspace) → broadcast equi-join → per-subspace
  *    argmin → groupBy(id) reassembly: one shuffle, once, at index-build
  *    time;
  *  - TRAINING runs Lloyd for ALL subspaces jointly — assign is the same
  *    broadcast join keyed (subspace), update is one groupBy(subspace,
  *    code, dim) mean aggregation per round — m× fewer Spark jobs than
  *    looping subspaces on the driver;
  *  - ADC SEARCH broadcasts per-probe LUTs (probes are small by contract,
  *    as in [[Similarity.bruteForceTopK]]) and the candidate scan is a
  *    narrow map over the codes column + one top-k window.
  * All distances are squared L2 over `cast(x as double)` — exact for the
  * integer-quantized vectors the oracle query uses, so Spark and DuckDB
  * agree bit-for-bit.
  */
object Pq {

  /** [subspace][code][subdim] — driver-side, config-sized. */
  type Codebook = Seq[Seq[Seq[Double]]]

  private def subdimOf(cb: Codebook): Int = cb.head.head.length

  /** Broadcastable codebook relation: one row per subspace carrying that
    * subspace's k centroids. */
  private def codebookDf(spark: SparkSession, cb: Codebook): DataFrame = {
    import spark.implicits._
    broadcast(cb.zipWithIndex.map { case (cents, s) => (s, cents) }
      .toDF("__sub", "__cents"))
  }

  /** SQL: the nearest centroid in `__cents` to `__subv`, ties to the
    * lowest code — `field` selects the code index (`i`) or its squared
    * distance (`d`). */
  private def nearestSql(k: Int, field: String): String =
    s"""element_at(array_sort(transform(sequence(0, ${k - 1}), c ->
       |  named_struct('d',
       |    aggregate(zip_with(element_at(__cents, c + 1), __subv,
       |      (a, b) -> (a - b) * (a - b)), 0D, (acc, v) -> acc + v),
       |    'i', c))), 1).$field""".stripMargin

  private def argminSql(k: Int): String = nearestSql(k, "i")

  /** Explode a vector column into (original columns, __sub, __subv) rows —
    * one per subspace, subvector cast to double. A ragged vector would
    * slice short, null-pad the zip and silently argmin to code 0 — fail
    * loudly instead (one size() check per row, negligible next to the
    * distance math). */
  private def explodeSubspaces(df: DataFrame, vecCol: String, m: Int,
      subdim: Int): DataFrame =
    df.withColumn("__sub", explode(expr(s"sequence(0, ${m - 1})")))
      // the guard lives INSIDE the consumed column (an unreferenced check
      // column would be pruned by the optimizer and never fire)
      .withColumn("__subv", expr(
        s"""CASE WHEN size($vecCol) = ${m * subdim}
           |  THEN transform(slice($vecCol, __sub * $subdim + 1, $subdim),
           |         x -> cast(x as double))
           |  ELSE raise_error(concat('Pq: vector length != ${m * subdim}: got ',
           |         coalesce(cast(size($vecCol) as string), 'null vector'))) END"""
          .stripMargin))

  /** Deterministic codebook seed: the k corpus vectors first in md5(id)
    * order, sliced into subvectors (every subspace seeds from the same k
    * rows — reproducible, no RNG state). */
  def seedCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Codebook = {
    val rows = corpus
      .select(col(vecCol).cast("array<double>").as("__v"),
        md5(col(idCol).cast("string")).as("__o"))
      .orderBy(col("__o")).limit(k)
      .collect().map(_.getSeq[Double](0).toIndexedSeq)
    require(rows.nonEmpty, "empty corpus")
    val dims = rows.head.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val subdim = dims / m
    (0 until m).map(s => rows.toSeq.map(v => v.slice(s * subdim, (s + 1) * subdim).toSeq))
  }

  /** `iters` Lloyd rounds over all subspaces jointly: broadcast-join
    * assign, one (subspace, code, dim)-mean aggregation per round. The
    * loop is DATAFRAME-side end to end (same discipline as
    * [[Similarity.refineCentroids]]): the codebook lives as a
    * (sub, code, centroid) relation between rounds (pinned through
    * [[graft.Pin.Rounds]] — m·k rows, at most K + 1 copies), the per-round means join back onto it (empty cells keep
    * their previous centroid via the left-join coalesce), and the ONLY
    * driver collect is the FINAL codebook — which must reach the driver
    * anyway for LUT construction. No per-round driver transfer scales
    * with m × k × dims. */
  def trainPq(corpus: DataFrame, vecCol: String, cb0: Codebook,
      iters: Int): Codebook = {
    if (iters <= 0) return cb0
    val spark = corpus.sparkSession
    import spark.implicits._
    val (m, k, subdim) = (cb0.length, cb0.head.length, subdimOf(cb0))
    // LAZY round pins (the pageRank cascade pattern): no action per
    // round; the final collect materializes the pending cascade
    val rounds = new Pin.Rounds
    var cbDf = rounds.next(cb0.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, code) => (s, code, c) }
    }.toDF("__sub", "__code", "__cent"))
    (0 until iters).foreach { _ =>
      // rebuild the per-subspace broadcast codebook FROM the relation
      val cbBySub = cbDf.groupBy(col("__sub"))
        .agg(expr("transform(array_sort(collect_list(struct(__code, __cent))), s -> s.__cent)")
          .as("__cents"))
      val means = explodeSubspaces(corpus.select(col(vecCol)), vecCol, m, subdim)
        .join(broadcast(cbBySub), "__sub")
        .withColumn("__code", expr(argminSql(k)))
        .select(col("__sub"), col("__code"),
          posexplode(col("__subv")).as(Seq("__d", "__x")))
        .groupBy(col("__sub"), col("__code"), col("__d"))
        .agg(avg(col("__x")).as("__m"))
      val prevExpl = cbDf.select(col("__sub"), col("__code"),
        posexplode(col("__cent")).as(Seq("__d", "__pv")))
      cbDf = rounds.next(prevExpl.join(means, Seq("__sub", "__code", "__d"), "left")
        .select(col("__sub"), col("__code"), col("__d"),
          coalesce(col("__m"), col("__pv")).as("__v"))
        .groupBy(col("__sub"), col("__code"))
        .agg(expr("transform(array_sort(collect_list(struct(__d, __v))), s -> s.__v)")
          .as("__cent")))
    }
    val rows = cbDf.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq).toMap
    rounds.read()
    (0 until m).map(s => (0 until k).map(code => rows((s, code))))
  }

  /** Encode the corpus: (idCol, codes array<int> of length m). One
    * explode → broadcast join → argmin → groupBy(id) reassembly; at 100 TB
    * this is the one-time index build (a single shuffle keyed by id). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      cb: Codebook, carry: Seq[String] = Nil): DataFrame = {
    val spark = corpus.sparkSession
    val (m, k, subdim) = (cb.length, cb.head.length, subdimOf(cb))
    explodeSubspaces(corpus.select((idCol +: vecCol +: carry).map(col): _*),
        vecCol, m, subdim)
      .join(codebookDf(spark, cb), "__sub")
      .withColumn("__code", expr(argminSql(k)))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__sub"), col("__code")))).as("__sc"),
        carry.map(c => first(col(c)).as(c)): _*)
      .select((col(idCol) +: expr("transform(__sc, p -> p.__code)").as("codes") +:
        carry.map(col)): _*)
  }

  /** Average squared quantization error over the corpus — the training
    * objective; must be non-increasing across [[trainPq]] rounds. */
  def quantizationError(corpus: DataFrame, vecCol: String, cb: Codebook): Double = {
    val spark = corpus.sparkSession
    val (m, k, subdim) = (cb.length, cb.head.length, subdimOf(cb))
    explodeSubspaces(corpus.select(col(vecCol)), vecCol, m, subdim)
      .join(codebookDf(spark, cb), "__sub")
      .withColumn("__d", expr(nearestSql(k, "d")))
      // rows = nVectors × m, each carrying one subspace's min sq-dist;
      // per-vector error is the sum of its m parts → mean = sum·m / rows
      .agg((sum(col("__d")) * lit(m) / count(lit(1))).as("e"))
      .head().getDouble(0)
  }


  /** Driver-side squared L2 — LUT construction math. */
  private def sq(a: Seq[Double], b: Seq[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    acc
  }

  /** Flat (m × k) lookup table for one probe (or residual) vector:
    * entry s*k + c = squared distance of the probe's subvector s to
    * centroid c of subspace s. */
  private def flatLut(cb: Codebook, pv: IndexedSeq[Double]): IndexedSeq[Double] = {
    val (m, nk, subdim) = (cb.length, cb.head.length, subdimOf(cb))
    for { s <- 0 until m; c <- 0 until nk }
      yield sq(cb(s)(c), pv.slice(s * subdim, (s + 1) * subdim))
  }

  /** Collect the (small) probe side as (id, vector) rows, validating the
    * vector shape against the codebook. */
  private def collectProbes(probes: DataFrame, idCol: String, vecCol: String,
      cb: Codebook, op: String): Array[(Long, IndexedSeq[Double])] = {
    val dims = cb.length * subdimOf(cb)
    val rows = probes
      .select(col(idCol).cast("long").as("__pid"),
        col(vecCol).cast("array<double>").as("__pv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    rows.foreach { case (pid, pv) =>
      require(pv.length == dims,
        s"Pq.$op: probe $pid has ${pv.length} dims, codebook implies $dims") }
    rows
  }

  /** Join broadcast LUTs to coded candidates and take the ADC top-k per
    * probe — the shared tail of [[adcTopK]] (cross join: every candidate
    * scanned with m lookups) and [[ivfPqTopK]] (equi-join on cell: only
    * nProbe cells scanned). */
  private def lutTopK(cands: DataFrame, lutDf: DataFrame,
      joinCols: Seq[String], m: Int, nk: Int, k: Int): DataFrame = {
    val adc = expr(
      s"""aggregate(sequence(0, ${m - 1}), 0D, (acc, s) ->
         |  acc + element_at(__lut, s * $nk + element_at(codes, s + 1) + 1))"""
        .stripMargin)
    val w = Window.partitionBy(col("__pid")).orderBy(col("adc").asc, col("cand_id").asc)
    val joined =
      if (joinCols.isEmpty) cands.crossJoin(lutDf) else cands.join(lutDf, joinCols)
    joined.where(col("__pid") =!= col("cand_id"))
      .withColumn("adc", adc)
      .select(col("__pid").as("probe_id"), col("cand_id"), col("adc"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= k)
  }

  /** ADC top-k: per probe, the k candidates with the smallest
    * lookup-table distance. Probes must be small (collected once to build
    * the m×k LUTs — the [[Similarity.bruteForceTopK]] broadcast contract);
    * the candidate side is a narrow map over `codes` (m element_at calls
    * per row, no float math) + one top-k window per probe. Returns
    * (probe_id, cand_id, adc, rn). */
  def adcTopK(codes: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, cb: Codebook, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val luts = collectProbes(probes, idCol, vecCol, cb, "adcTopK").toSeq
      .map { case (pid, pv) => (pid, flatLut(cb, pv)) }
    lutTopK(codes.select(col(idCol).as("cand_id"), col("codes")),
      broadcast(luts.toDF("__pid", "__lut")), Nil,
      cb.length, cb.head.length, k)
  }

  // ------------------------------------------------------------------
  // IVFADC — the production composition (Jégou et al. §IV): coarse IVF
  // cell + PQ of the RESIDUAL (vector minus its cell centroid). Flat PQ
  // quantizes away exactly the within-cluster detail a top-k probe needs
  // (AnnBench measures its recall collapsing on clustered data); encoding
  // the residual spends the whole code budget on that detail instead.
  // ------------------------------------------------------------------

  /** Driver-side IVFADC model: coarse centroids + residual codebook —
    * both config-sized. */
  final case class IvfPqModel(cents: Seq[Seq[Double]], cb: Codebook)

  /** Residual column: vec - cents(cell), via a broadcast centroid join
    * (input must carry `__cell`). */
  private def withResidual(df: DataFrame, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centsDf = broadcast(
      cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("__cell", "__cent"))
    df.join(centsDf, "__cell")
      .withColumn("__resid",
        expr(s"zip_with($vecCol, __cent, (x, c) -> cast(x as double) - c)"))
      .drop("__cent")
  }

  /** Build the IVFADC index: assign cells, train PQ on residuals, encode.
    * Returns the index relation (idCol, __cell, codes) — m codes + one
    * cell id per vector, the at-rest ANN index at 100 TB — plus the
    * driver-side model. */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, m: Int, k: Int, lloydIters: Int = 2,
      pqIters: Int = 2): (DataFrame, IvfPqModel) = {
    val cents = Similarity.refineCentroids(corpus, vecCol,
      Similarity.seedCentroids(corpus, idCol, vecCol, nCells), lloydIters)
    val resid = withResidual(
      Similarity.cellRanks(corpus.select(col(idCol), col(vecCol)),
        idCol, vecCol, cents, maxRank = 1).drop("__rk"),
      vecCol, cents)
    val cb = trainPq(resid.select(col("__resid")), "__resid",
      seedCodebook(resid, idCol, "__resid", m, k), pqIters)
    val index = encode(resid, idCol, "__resid", cb, carry = Seq("__cell"))
    (index, IvfPqModel(cents, cb))
  }

  /** IVFADC top-k: each probe ranks its `nProbe` nearest cells, a
    * per-(probe, cell) residual LUT is broadcast, and candidates are
    * reached by an EQUI-join on cell — the scan touches only nProbe/nCells
    * of the index, and each candidate costs m lookups. Probes small by
    * contract. Returns (probe_id, cand_id, adc, rn). */
  def ivfPqTopK(index: DataFrame, model: IvfPqModel, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    require(nProbe >= 1 && nProbe <= model.cents.length)
    val luts = for {
      (pid, pv) <- collectProbes(probes, idCol, vecCol, model.cb, "ivfPqTopK").toSeq
      cell <- model.cents.zipWithIndex
        .map { case (c, i) => (sq(c, pv), i) }.sorted.take(nProbe).map(_._2)
    } yield (pid, cell, flatLut(model.cb, pv.indices.map(d => pv(d) - model.cents(cell)(d))))
    lutTopK(index.select(col(idCol).as("cand_id"), col("__cell"), col("codes")),
      broadcast(luts.toDF("__pid", "__cell", "__lut")), Seq("__cell"),
      model.cb.length, model.cb.head.length, k)
  }

  /** Exact re-rank refinement (the standard ADC+R step, cf. FAISS refine):
    * a candidate list from any generator ([[adcTopK]], [[ivfPqTopK]],
    * LSH/IVF) is joined back to the RAW vectors and re-ranked by exact
    * squared L2 — codes give the cheap shortlist, floats decide the final
    * order. The join touches only |probes| × R rows. Returns (probe_id,
    * cand_id, sqd, rn). */
  def rerankExact(cands: DataFrame, corpus: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cv = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).cast("array<double>").as("__cv"))
    val pv = probes.select(col(idCol).as("probe_id"),
      col(vecCol).cast("array<double>").as("__pv"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sqd").asc, col("cand_id").asc)
    cands.select(col("probe_id"), col("cand_id"))
      .join(cv, "cand_id").join(broadcast(pv), "probe_id")
      .withColumn("sqd", expr(
        "aggregate(zip_with(__pv, __cv, (a, b) -> (a - b) * (a - b)), 0D, (acc, v) -> acc + v)"))
      .select(col("probe_id"), col("cand_id"), col("sqd"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= k)
  }
}
