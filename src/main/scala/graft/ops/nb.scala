package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin

/** Multinomial Naive Bayes text classifier — the from-scratch analog of
  * the linear fastText classifier CCNet-style pipelines pair with their LM
  * gate (reference-vs-crawl quality scoring, domain labeling, toxicity
  * triage). Like [[Lm]], the model is trained as two aggregations and
  * quantized to integer MICRO-NATS at train time, so classification is a
  * pure integer relation join — bit-reproducible across engines, runs, and
  * partitionings, and DuckDB-replayable from the staged model.
  *
  * Scale design: the model is vocabulary-sized (bounded by the labeled
  * sample, not the corpus) and BROADCAST to the one scoring join; the
  * corpus side explodes to narrow (doc, word) rows. The per-label score
  * decomposes as
  *
  *   score(d, l) = prior_q(l) + n_words(d)·unseen_q(l)
  *               + Σ_{seen (w,l)} (logp_q(w,l) − unseen_q(l))
  *
  * so a document only ever joins the words the model has SEEN — unseen
  * words cost nothing per label (they are folded into the n·unseen term),
  * which is what keeps the plan one broadcast join + one partial-agg sum
  * instead of a per-(doc, label) scan. The label set is config-sized and
  * reaches each document by a broadcast nested-loop of #labels rows; the
  * final per-(doc, label) combine is a shuffle EQUI-join of two
  * corpus-sized sides (≤ #labels rows per doc each) — partitioned,
  * skew-free, and the only corpus-width shuffle in the plan.
  *
  * Reference semantics: qetch has no corpus analytics (SURVEY.md §0);
  * this extends §2C's training-data additions.
  */
object NaiveBayes {

  /** Integer training counts: (label, word, cnt, tot) where `tot` =
    * Σ cnt over the label — the oracle-checkable half of training
    * (exactly [[Lm.bigramCounts]]'s shape with labels for contexts).
    * Empty text still contributes one '' token, so every label present
    * in the sample appears. */
  def nbCounts(labeled: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val words = labeled.select(col(labelCol).as("label"),
      explode(split(col(textCol), " ")).as("word"))
    val cnts = words.groupBy(col("label"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    val tots = cnts.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    cnts.join(tots, "label").select(col("label"), col("word"), col("cnt"), col("tot"))
  }

  /** Train the add-one multinomial NB model. Returns ONE relation
    * (label, word, kind, logp_q) in integer micro-nats:
    *
    *  - kind='feat'   — seen (label, word): floor(ln((cnt+1)/(tot+V))·1e6)
    *  - kind='unseen' — per-label unseen-word mass (word NULL):
    *                    floor(ln(1/(tot+V))·1e6)
    *  - kind='prior'  — per-label document prior (word NULL):
    *                    floor(ln(n_docs_label/n_docs)·1e6)
    *
    * over observed vocabulary size V. The ln runs exactly once per model
    * row at train time; everything downstream is integer. NULL-text rows
    * train NOTHING — they are excluded from priors too, so a label is
    * either fully present (feat+unseen+prior) or fully absent; a label
    * whose sampled rows are all NULL-text cannot linger as a prior-only
    * row that [[nbScores]]' prior⋈unseen join would silently drop. */
  def trainNb(labeled: DataFrame, textCol: String, labelCol: String): DataFrame = {
    val base = labeled.where(col(textCol).isNotNull)
    // three consumers (vocab count, feat rows, unseen rows) — materialize
    // the counts once instead of re-scanning the labeled sample
    val counts = Pin(nbCounts(base, textCol, labelCol))
    val vocab = counts.select(col("word")).distinct().count()
    require(vocab > 0,
      "trainNb: empty labeled sample (vocab = 0) — refusing to train a " +
        "model whose unseen probability would be log(1/0)")
    val q = (p: Column) => floor(log(p) * lit(1e6)).cast("bigint")
    val feat = counts.select(col("label"), col("word"), lit("feat").as("kind"),
      q((col("cnt") + 1).cast("double") / (col("tot") + lit(vocab))).as("logp_q"))
    val unseen = counts.select(col("label"), col("tot")).distinct()
      .select(col("label"), lit(null).cast("string").as("word"),
        lit("unseen").as("kind"),
        q(lit(1.0) / (col("tot") + lit(vocab))).as("logp_q"))
    // one scan: per-label doc counts; their sum is the prior denominator
    val nd = Pin(base.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd")))
    val nDocs = nd.agg(sum(col("nd"))).head().getLong(0)
    val prior = nd.select(col("label"), lit(null).cast("string").as("word"),
      lit("prior").as("kind"),
      q(col("nd").cast("double") / lit(nDocs.toDouble)).as("logp_q"))
    feat.unionByName(unseen).unionByName(prior)
  }

  /** Per-(doc, label) scores under a [[trainNb]] model: (idCol, label,
    * n_words, score_q). One broadcast join against the seen-feature delta
    * table + one partial-agg sum per doc×hit-label; the label frame
    * reaches every document by a broadcast nested-loop (#labels rows).
    * NULL-text docs are absent from the output (split(NULL) is NULL and
    * the explode drops the row), matching [[Lm.lmScore]]. */
  def nbScores(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    val prior = model.where(col("kind") === "prior")
      .select(col("label"), col("logp_q").as("prior_q"))
    val unseen = model.where(col("kind") === "unseen")
      .select(col("label"), col("logp_q").as("unseen_q"))
    val labels = prior.join(unseen, "label")
    // fail loudly on a filtered/projected non-trainNb relation
    val nLabels = labels.count()
    require(nLabels > 0,
      "nbScores: model has no prior/unseen rows — not a trainNb model " +
        "(was it filtered or projected?)")
    val deltas = model.where(col("kind") === "feat")
      .join(unseen, "label")
      .select(col("word").as("__w"), col("label"),
        (col("logp_q") - col("unseen_q")).as("__d"))
    val grams = docs.select(col(idCol).as("__id"),
      explode(split(col(textCol), " ")).as("__w"))
    val hitSums = grams.join(broadcast(deltas), "__w")
      .groupBy(col("__id"), col("label")).agg(sum(col("__d")).as("__dsum"))
    val nWords = docs.where(col(textCol).isNotNull) // match explode's null drop
      .select(col(idCol).as("__id"),
        size(split(col(textCol), " ")).cast("bigint").as("__n"))
    nWords.crossJoin(broadcast(labels))
      .join(hitSums, Seq("__id", "label"), "left")
      .select(col("__id").as(idCol), col("label"),
        col("__n").as("n_words"),
        (col("prior_q") + col("__n") * col("unseen_q") +
          coalesce(col("__dsum"), lit(0L))).as("score_q"))
  }

  /** Argmax classification: (idCol, pred, score_q) with the deterministic
    * (max score, label ASC) tie-break — the [[TextStats.langIdBulk]]
    * argmax idiom. */
  def nbClassify(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame =
    nbScores(docs, idCol, textCol, model)
      .groupBy(col(idCol))
      .agg(
        min_by(col("label"),
          struct((-col("score_q")).as("a"), col("label").as("b"))).as("pred"),
        max(col("score_q")).as("score_q"))
}
