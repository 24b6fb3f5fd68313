package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin

/** N-gram language-model quality scoring — the CCNet-style gate
  * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): score every document by its per-token
  * log-probability under a small LM trained on a high-quality reference
  * sample, then keep/bucket by score. CCNet uses a KenLM 5-gram; this is
  * the same pipeline shape with an add-one-smoothed word BIGRAM model —
  * the model that trains and scores as pure relational algebra.
  *
  * Scale design: the trained model is DIMENSION-sized (observed bigrams of
  * a bounded reference sample — ~10⁵–10⁷ rows even for large references)
  * and is BROADCAST to both scoring joins; the corpus side explodes to
  * narrow (doc, prev, word) rows and aggregates per document with partial
  * aggregation. Nothing about the corpus is ever shuffled except the final
  * per-doc sum — the exact shape of [[TextStats.langIdBulk]].
  *
  * Determinism: log-probabilities are quantized to integer MICRO-NATS at
  * TRAIN time (`floor(ln(p)·1e6)`), so the model — and therefore every
  * score — is a pure integer relation. Scoring never touches floating
  * point, which makes scores exactly reproducible across engines, runs,
  * and partitionings (sums of bigints commute; sums of doubles do not).
  *
  * Reference semantics: qetch has no corpus analytics; this extends
  * SURVEY.md §2C's training-data additions.
  */
object Lm {

  /** Exploded (… , prev, word) bigram rows of `textCol`, keeping `keep`
    * columns. The words array is PROJECTED once and the lambda indexes
    * into that bound column — re-evaluating split inside the lambda would
    * make per-document cost quadratic in document length (Spark's
    * common-subexpression elimination does not recurse into lambda
    * bodies). */
  private def bigrams(df: DataFrame, textCol: String, keep: Seq[Column]): DataFrame = {
    val projected = df.select(keep :+ split(col(textCol), " ").as("__lmw"): _*)
    // keep expressions may alias (e.g. doc_id AS __id); downstream selects
    // must reference the ALIASED names, so re-derive them from the
    // projection's schema rather than re-applying the input expressions.
    val kept = projected.columns.init.toSeq.map(col)
    projected
      .select(kept :+ explode(expr(
        """transform(__lmw,
          |  (w, i) -> struct(
          |    IF(i = 0, '^', element_at(__lmw, i)) AS prev,
          |    w AS word))""".stripMargin)).as("__b"): _*)
      .select(kept :+ col("__b.prev").as("prev") :+ col("__b.word").as("word"): _*)
  }

  /** Word-bigram counts of a reference corpus with per-prev totals:
    * (prev, word, cnt, tot) where `tot` = Σ cnt over the prev. The start
    * of each document contributes a (^, firstWord) bigram so single-word
    * docs still train. Pure integers — the oracle-checkable half of
    * training. */
  def bigramCounts(ref: DataFrame, textCol: String): DataFrame = {
    val pairs = bigrams(ref, textCol, Seq.empty)
    val cnts = pairs.groupBy(col("prev"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val tots = cnts.groupBy(col("prev")).agg(sum(col("cnt")).as("tot"))
    cnts.join(tots, "prev").select(col("prev"), col("word"), col("cnt"), col("tot"))
  }

  /** Train the add-one bigram LM. Returns the model as ONE relation:
    * (prev, word, logp_q) in integer micro-nats, where rows with
    * `word IS NULL` carry the per-prev UNSEEN-word probability
    * (add-one mass: 1/(tot+V)) and the single row with `prev IS NULL`
    * carries the unseen-PREV fallback (1/V). p(word|prev) =
    * (cnt+1)/(tot+V) over observed vocabulary size V.
    *
    * The ln runs exactly once per model row at train time; everything
    * downstream is integer. */
  def trainBigramLm(ref: DataFrame, textCol: String): DataFrame = {
    // three consumers (vocab count, seen rows, per-prev unseen rows) —
    // materialize the counts once instead of re-scanning the reference
    val counts = Pin(bigramCounts(ref, textCol))
    val vocab = counts.select(col("word")).distinct().count()
    require(vocab > 0,
      "trainBigramLm: empty reference corpus (vocab = 0) — refusing to " +
        "train a model whose fallback probability would be log(1/0)")
    val q = (p: Column) => floor(log(p) * lit(1e6)).cast("bigint")
    val seen = counts.select(col("prev"), col("word"),
      q((col("cnt") + 1).cast("double") / (col("tot") + lit(vocab))).as("logp_q"))
    val unseenW = counts.select(col("prev"), col("tot")).distinct()
      .select(col("prev"), lit(null).cast("string").as("word"),
        q(lit(1.0) / (col("tot") + lit(vocab))).as("logp_q"))
    val unseenP = ref.sparkSession.range(1)
      .select(lit(null).cast("string").as("prev"),
        lit(null).cast("string").as("word"),
        q(lit(1.0) / lit(vocab.toDouble)).as("logp_q"))
    seen.unionByName(unseenW).unionByName(unseenP)
  }

  /** Score documents under a trained model: per-doc sum of bigram
    * log-probs in micro-nats plus the bigram count, and `score_q` =
    * average micro-nats per bigram (the CCNet ranking statistic; more
    * negative = less reference-like). Unseen (prev, word) falls back to
    * the prev's add-one mass; unseen prev to the global fallback —
    * resolved by TWO broadcast left joins and a coalesce, never a scan
    * of the model per row.
    *
    * Empty text still scores (split('') yields one '' token → one
    * ('^', '') bigram); docs with NULL text are ABSENT from the output
    * (explode of a null array drops the row), matching langIdBulk's
    * null handling. */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val seen = model.where(col("word").isNotNull)
      .select(col("prev").as("__sp"), col("word").as("__sw"),
        col("logp_q").as("__slq"))
    val unseenW = model.where(col("word").isNull && col("prev").isNotNull)
      .select(col("prev").as("__up"), col("logp_q").as("__ulq"))
    val fallback = model.where(col("prev").isNull)
      .select(col("logp_q")).collect().headOption
      .getOrElse(sys.error(
        "lmScore: model has no prev-IS-NULL global-fallback row — not a " +
          "trainBigramLm model (was it filtered or projected?)"))
      .getLong(0)
    val grams = bigrams(docs, textCol, Seq(col(idCol).as("__id")))
      .select(col("__id"), col("prev").as("__p"), col("word").as("__w"))
    grams
      .join(broadcast(seen),
        col("__p") === col("__sp") && col("__w") === col("__sw"), "left")
      .join(broadcast(unseenW), col("__p") === col("__up"), "left")
      .withColumn("__lq",
        coalesce(col("__slq"), col("__ulq"), lit(fallback)))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lq")).as("logp_sum_q"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("logp_sum_q"),
        floor(col("logp_sum_q") / col("n_bigrams")).cast("bigint").as("score_q"))
  }

  /** Quantized log of the Stupid Backoff multiplier α = 0.4:
    * floor(ln(0.4)·1e6), hard-coded as a LITERAL so scoring never
    * evaluates a transcendental — k levels of backoff add exactly
    * k·BackoffPenaltyQ to the stored micro-nat score, keeping the whole
    * scoring path integer (ln runs only at train time, once per model
    * row, exactly like [[trainBigramLm]]). */
  val BackoffPenaltyQ: Long = -916291L

  /** One row per (document-token, order): (keep…, ord, ctx, word) where
    * `ctx` is the space-joined (ord−1) tokens preceding the token
    * (documents are padded with n−1 '^' sentinels, so the first token's
    * order-n context is '^ ^ …') and ord runs 1..n. The padded array is
    * projected ONCE and both lambdas index into the bound column — the
    * same quadratic-split hazard [[bigrams]] documents. */
  private def backoffGrams(df: DataFrame, textCol: String, n: Int,
      keep: Seq[Column]): DataFrame = {
    val pads = Seq.fill(n - 1)("'^'").mkString(", ")
    val projected = df.select(
      keep :+ expr(s"concat(array($pads), split($textCol, ' '))").as("__pw"): _*)
    val kept = projected.columns.init.toSeq.map(col)
    projected
      .select(kept :+ explode(expr(
        s"""flatten(transform(sequence(0, size(__pw) - $n),
           |  j -> transform(sequence(1, $n),
           |    o -> struct(o AS ord,
           |      array_join(slice(__pw, j + $n - o + 1, o - 1), ' ') AS ctx,
           |      element_at(__pw, j + $n) AS word))))""".stripMargin)).as("__g"): _*)
      .select(kept :+ col("__g.ord").as("ord") :+ col("__g.ctx").as("ctx")
        :+ col("__g.word").as("word"): _*)
  }

  /** Per-order n-gram counts of a reference corpus — the integer half of
    * Stupid Backoff training: (ord, ctx, word, cnt, tot) for ord = 1..n,
    * where `tot` = Σ cnt over (ord, ctx). By construction tot(ord, ctx)
    * is the number of token positions whose preceding ord−1 tokens equal
    * ctx, so cnt/tot is a proper relative frequency at every order
    * (ord = 1 has ctx = '' and tot = the corpus token count). */
  def backoffCounts(ref: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 2 && n <= 5, s"backoff order n must be in [2, 5], got $n")
    val cnts = backoffGrams(ref, textCol, n, Seq.empty)
      .groupBy(col("ord"), col("ctx"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val tots = cnts.groupBy(col("ord"), col("ctx")).agg(sum(col("cnt")).as("tot"))
    cnts.join(tots, Seq("ord", "ctx"))
      .select(col("ord"), col("ctx"), col("word"), col("cnt"), col("tot"))
  }

  /** Train a Stupid Backoff n-gram LM (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the LM DESIGNED for
    * distributed batch training at web scale: scores are unnormalized
    * relative frequencies S(w|ctx) = cnt/tot with a fixed ×0.4 penalty
    * per backoff level instead of discounted probability mass, which is
    * exactly what makes training a pure pair of aggregations (no
    * iterative discount fitting, no per-context normalization pass).
    *
    * Model relation: (ord, ctx, word, logp_q) in integer micro-nats —
    * ord 1..n are seen grams scored floor(ln(cnt/tot)·1e6); the single
    * ord = 0 row is the out-of-vocabulary base floor(ln(1/N)·1e6) over
    * corpus token count N. The backoff multiplier is NOT baked into the
    * rows — [[stupidBackoffScore]] adds [[BackoffPenaltyQ]] per level at
    * lookup, so one model serves every order prefix. */
  def trainStupidBackoff(ref: DataFrame, textCol: String, n: Int = 3): DataFrame = {
    val counts = Pin(backoffCounts(ref, textCol, n))
    val q = (p: Column) => floor(log(p) * lit(1e6)).cast("bigint")
    val seen = counts.select(col("ord"), col("ctx"), col("word"),
      q(col("cnt").cast("double") / col("tot")).as("logp_q"))
    // N = tot of any ord-1 row (all share ctx = ''); fails loudly on an
    // empty reference exactly like trainBigramLm
    val nTokens = counts.where(col("ord") === 1).select(col("tot"))
      .head(1).headOption.getOrElse(sys.error(
        "trainStupidBackoff: empty reference corpus — no unigram rows"))
      .getLong(0)
    val oov = ref.sparkSession.range(1)
      .select(lit(0).as("ord"), lit(null).cast("string").as("ctx"),
        lit(null).cast("string").as("word"),
        q(lit(1.0) / lit(nTokens.toDouble)).as("logp_q"))
    seen.unionByName(oov)
  }

  /** Score documents under a [[trainStupidBackoff]] model: per-doc sum of
    * per-token micro-nat scores plus the token count, and `score_q` =
    * average micro-nats per token. Each token resolves through the
    * backoff cascade — highest order whose (ctx, word) the model has
    * seen, plus [[BackoffPenaltyQ]] per level skipped, bottoming out at
    * the OOV base after n−1 penalties. The cascade is n broadcast left
    * joins and ONE coalesce — no per-row model scan, the
    * [[lmScore]]/langIdBulk plan shape widened to n model slices; the
    * corpus side shuffles only for the final per-doc partial-agg sum.
    *
    * NULL-text docs are absent from the output (explode of a null array),
    * matching [[lmScore]]. */
  def stupidBackoffScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 2 && n <= 5, s"backoff order n must be in [2, 5], got $n")
    val oov = model.where(col("ord") === 0)
      .select(col("logp_q")).collect().headOption
      .getOrElse(sys.error(
        "stupidBackoffScore: model has no ord=0 OOV row — not a " +
          "trainStupidBackoff model (was it filtered or projected?)"))
      .getLong(0)
    // one WIDE position row per token (its per-order contexts as columns
    // — built directly rather than regrouping [[backoffGrams]]'s long
    // rows, which would need a per-position shuffle key), then one
    // broadcast left join per order, highest first so the coalesce reads
    // in backoff order
    val pads = Seq.fill(n - 1)("'^'").mkString(", ")
    val ctxCols = (1 to n).map(o => s"""array_join(slice(__pw, j + $n - $o + 1, ${o - 1}), ' ') AS ctx$o""")
    val projected = docs.select(col(idCol).as("__id"),
      expr(s"concat(array($pads), split($textCol, ' '))").as("__pw"))
    val positions = projected
      .select(col("__id"), explode(expr(
        s"""transform(sequence(0, size(__pw) - $n),
           |  j -> struct(element_at(__pw, j + $n) AS word,
           |    ${ctxCols.mkString(",\n    ")}))""".stripMargin)).as("__p"))
      .select(col("__id") +: col("__p.word").as("__w") +:
        (1 to n).map(o => col(s"__p.ctx$o").as(s"__c$o")): _*)
    val joined = (n to 1 by -1).foldLeft(positions) { (df, o) =>
      val slice = model.where(col("ord") === o)
        .select(col("ctx").as(s"__mc$o"), col("word").as(s"__mw$o"),
          col("logp_q").as(s"__l$o"))
      df.join(broadcast(slice),
        df(s"__c$o") === col(s"__mc$o") && df("__w") === col(s"__mw$o"), "left")
    }
    val cascade = coalesce(
      (n to 1 by -1).map(o =>
        col(s"__l$o") + lit((n - o) * BackoffPenaltyQ)) :+
        lit(oov + (n - 1) * BackoffPenaltyQ): _*)
    joined
      .withColumn("__lq", cascade)
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__lq")).as("logp_sum_q"))
      .select(col("__id").as(idCol), col("n_tokens"), col("logp_sum_q"),
        floor(col("logp_sum_q") / col("n_tokens")).cast("bigint").as("score_q"))
  }

  // ------------------------------------------------------------------
  // CCNet head/middle/tail corpus split (Wenzek et al. 2020 §4.3): rank
  // documents by LM score and cut the corpus into quality tiers — the
  // split a pretraining mixture samples from at different rates.
  // ------------------------------------------------------------------

  /** The two score cut points for a head/middle/tail split: scores at the
    * (1 − headFrac) and (1 − headFrac − midFrac) quantiles of `scoreCol`
    * (score_q is HIGHER = more reference-like, so head is the TOP
    * headFrac). One percentile_approx scan; `accuracy` ≥ corpus rows makes
    * the sketch exact (the fixture/oracle setting) — at 100 TB leave the
    * default 10⁶ and accept the documented GK-sketch error, or compute
    * thresholds on a hash-sample: CCNet itself fixes thresholds from a
    * sample, never from the full corpus. Returns (headMin, midMin). */
  def lmBucketThresholds(scored: DataFrame, scoreCol: String = "score_q",
      headFrac: Double = 1.0 / 3, midFrac: Double = 1.0 / 3,
      accuracy: Int = 1000000): (Long, Long) = {
    require(headFrac > 0 && midFrac > 0 && headFrac + midFrac < 1,
      s"fractions must be positive and sum below 1, got $headFrac + $midFrac")
    val r = scored.agg(
      expr(s"percentile_approx($scoreCol, ${1 - headFrac}, $accuracy)"),
      expr(s"percentile_approx($scoreCol, ${1 - headFrac - midFrac}, $accuracy)"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Map-side bucket assignment from fixed thresholds — the production
    * form (zero shuffle beyond the one-off threshold scan): 'head' iff
    * score ≥ headMin, 'middle' iff score ≥ midMin, else 'tail'. */
  def lmBucketsByThreshold(scored: DataFrame, scoreCol: String,
      headMin: Long, midMin: Long): DataFrame =
    scored.withColumn("lm_bucket",
      when(col(scoreCol) >= headMin, "head")
        .when(col(scoreCol) >= midMin, "middle")
        .otherwise("tail"))

  /** Rank-exact bucket assignment: row_number over (score DESC, id ASC —
    * the deterministic tie-break) cut at ceil(n·headFrac) and
    * ceil(n·(headFrac+midFrac)). Buckets have EXACT sizes regardless of
    * ties, and the definition replays verbatim in SQL (the oracle form).
    * Costs a global sort (single-partition window) — fine to ~10⁹ rows;
    * beyond that use [[lmBucketsByThreshold]], which agrees with this
    * form everywhere score values are tie-free (OpsSpec). */
  def lmBucketsRanked(scored: DataFrame, idCol: String,
      scoreCol: String = "score_q",
      headFrac: Double = 1.0 / 3, midFrac: Double = 1.0 / 3): DataFrame = {
    require(headFrac > 0 && midFrac > 0 && headFrac + midFrac < 1,
      s"fractions must be positive and sum below 1, got $headFrac + $midFrac")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    scored
      .withColumn("__rnk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("lm_bucket",
        when(col("__rnk") <= ceil(col("__n") * headFrac), "head")
          .when(col("__rnk") <= ceil(col("__n") * (headFrac + midFrac)), "middle")
          .otherwise("tail"))
      .drop("__rnk", "__n")
  }
}
