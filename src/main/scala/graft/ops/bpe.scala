package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Pin
import scala.collection.mutable.ArrayBuffer

/** Byte-pair-encoding subword tokenizer: a Spark-first TRAINER (iterative
  * vocabulary aggregation — the corpus never leaves the executors, the
  * driver holds only the merge table) and a pure-column APPLIER (a fold of
  * literal `replace` calls — whole-stage codegen, no UDF, replayable
  * verbatim in any engine with `replace`/`regexp_replace`).
  *
  * Tokenizer spec — "ordered-merge BPE", deterministic and engine-portable:
  *  - a text is symbolized as one char per symbol, every symbol preceded by
  *    exactly ONE space; the text's own spaces become the [[Boundary]]
  *    symbol (\u0001), so word boundaries are ordinary symbols that no
  *    merge rule ever touches — merges cannot cross words;
  *  - the merge table is an ORDERED list of (left, right) symbol pairs;
  *    rank r is applied before rank r+1, each rank replacing all
  *    left-to-right non-overlapping occurrences of " left right" with
  *    " leftright" (exactly `replace` semantics in both Java and DuckDB);
  *  - tokens = the merged symbols minus the boundary symbols.
  * Classic greedy BPE re-scans for the lowest-rank pair after every merge;
  * the single ordered pass per rank is the standard fast approximation and
  * coincides with it whenever training order matches application order
  * (which [[learnMerges]] guarantees by construction). What matters for the
  * pipeline is that the spec is DETERMINISTIC and implemented identically
  * in Spark and in the DuckDB oracle ([[graft.Queries]] q_bpe_tokens).
  */
object Bpe {

  /** Word-boundary symbol: a control char that crawl text never contains
    * (encoded as an escape, never a raw byte, so source and generated SQL
    * stay plain text). */
  val Boundary = "\u0001"

  /** Symbolize a text column: " h i <B> t h e r e" for "hi there".
    * The char class is `[\s\S]`, not `.`: the dot excludes different
    * line-terminator sets under Java regex (Spark) and RE2 (DuckDB), so a
    * text containing \r or U+2028 would symbolize differently per engine;
    * `[\s\S]` matches every char identically in both. */
  def symbolize(textCol: Column): Column =
    regexp_replace(replace(textCol, lit(" "), lit(Boundary)),
      lit("([\\s\\S])"), lit(" $1"))

  /** Apply an ordered merge table to a symbolized column — one literal
    * `replace` per rank, folded left; stays inside codegen. */
  def applyMerges(symCol: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(symCol) { case (acc, (l, r)) =>
      replace(acc, lit(s" $l $r"), lit(s" $l$r"))
    }

  /** BPE tokens of a text column (array<string>, boundaries removed). */
  def bpeTokens(textCol: Column, merges: Seq[(String, String)]): Column = {
    val merged = applyMerges(symbolize(textCol), merges)
    filter(split(ltrim(merged), " "), s => s =!= lit(Boundary) && s =!= lit(""))
  }

  /** BPE token count: total merged symbols minus boundary symbols — pure
    * length algebra, no array materialization (the hot-path form). */
  def bpeTokenCount(textCol: Column, merges: Seq[(String, String)]): Column = {
    val merged = applyMerges(symbolize(textCol), merges)
    val syms = when(length(textCol) === 0, 0)
      .otherwise(length(merged) - length(replace(merged, lit(" "), lit(""))))
    val bounds = length(textCol) - length(replace(textCol, lit(" "), lit("")))
    (syms - bounds).cast("int")
  }

  /** BPE tokens WITH the word-boundary symbols retained (array<string>) —
    * the round-trippable form: the merged symbol sequence is a partition
    * of the text's chars (spaces encoded as [[Boundary]] tokens), so
    * [[bpeDecode]] reconstructs the original text EXACTLY, including
    * leading/trailing/consecutive spaces. [[bpeTokens]] is this minus the
    * boundary symbols (the counting/packing form — token counts must not
    * charge for whitespace); this form is what [[encodeIds]] ships to a
    * training loader, which needs the boundaries to detokenize. */
  def bpeTokensFull(textCol: Column, merges: Seq[(String, String)]): Column = {
    val merged = applyMerges(symbolize(textCol), merges)
    filter(split(ltrim(merged), " "), s => s =!= lit(""))
  }

  /** Exact inverse of [[bpeTokensFull]]: concatenate the symbols and turn
    * boundary symbols back into spaces. NULL tokens propagate NULL. */
  def bpeDecode(toksCol: Column): Column =
    replace(array_join(toksCol, ""), lit(Boundary), lit(" "))

  // ------------------------------------------------------------------
  // Token-id surface: training shards carry int32 ids, not strings — a
  // 4-byte id per token vs a dictionary-encoded string column that still
  // decodes to java Strings in every downstream loader. The vocabulary is
  // corpus-derived (the token set the merge table actually realizes on
  // this corpus: base chars + merge outputs + the boundary symbol), ids
  // are contiguous [0, V) in lexicographic token order — a pure function
  // of (corpus, merges), so any engine rebuilds the same table.
  // ------------------------------------------------------------------

  /** Deterministic vocabulary of a corpus under a merge table: one row
    * per distinct [[bpeTokensFull]] token, `token_id` contiguous from 0
    * in lexicographic (binary UTF-8) token order.
    *
    * Scale shape: the distinct is a partial hash-agg over the exploded
    * tokens (vocab-sized output — bounded by distinct chars + merge count
    * + 1, NOT by the corpus); the contiguous-id assignment is one global
    * row_number over that vocab-sized table, which is legal precisely
    * because the table can never exceed ~|chars| + nMerges rows. */
  def buildVocab(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(explode(bpeTokensFull(col(textCol), merges)).as("token"))
      .distinct()
      .select((row_number().over(Window.orderBy(col("token"))) - 1)
          .cast("int").as("token_id"),
        col("token"))
  }

  /** Attach a token-id array column: `df[toksCol]` (array<string>) looked
    * up against `vocab`, out-of-vocabulary tokens mapped to `unkId`
    * (cross-corpus encodes against a foreign vocab must surface OOV, not
    * drop it). The vocab reaches the plan as ONE broadcast row holding a
    * token→id map, so encoding is a narrow per-row `transform` — no
    * explode, no reassembly shuffle, order preserved by construction
    * (the explode→join→sort_array reassembly idiom would shuffle every
    * token row to rebuild an order this form never loses). */
  def attachIds(df: DataFrame, toksCol: String, vocab: DataFrame,
      unkId: Int = -1, outCol: String = "ids"): DataFrame = {
    val vmap = vocab.agg(map_from_entries(
      collect_list(struct(col("token"), col("token_id")))).as("__vmap"))
    df.crossJoin(broadcast(vmap))
      .withColumn(outCol,
        transform(col(toksCol), t =>
          coalesce(element_at(col("__vmap"), t), lit(unkId))))
      .drop("__vmap")
  }

  /** Encode documents to token-id sequences: (id, ids array<int>), ids
    * over [[bpeTokensFull]] (boundaries included) so [[decodeIds]] is an
    * exact inverse on in-vocab text. */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], vocab: DataFrame,
      unkId: Int = -1): DataFrame =
    attachIds(
      docs.select(col(idCol),
        bpeTokensFull(col(textCol), merges).as("__toks")),
      "__toks", vocab, unkId)
      .select(col(idCol), col("ids"))

  /** Decode a token-id array column back to text: id→token via the same
    * one-row broadcast map, concatenate, boundaries back to spaces. Ids
    * absent from the vocab (e.g. an [[encodeIds]] `unkId`) decode to the
    * replacement char `�` — visible, never silently dropped. Adds
    * `decoded`; NULL id arrays decode to NULL. */
  def decodeIds(df: DataFrame, idsCol: String, vocab: DataFrame,
      outCol: String = "decoded"): DataFrame = {
    val rmap = vocab.agg(map_from_entries(
      collect_list(struct(col("token_id"), col("token")))).as("__rmap"))
    df.crossJoin(broadcast(rmap))
      .withColumn(outCol,
        replace(
          array_join(
            transform(col(idsCol), i => element_at(col("__rmap"), i)),
            "", "�"),
          lit(Boundary), lit(" ")))
      .drop("__rmap")
  }

  /** Out-of-vocabulary audit of a FROZEN vocabulary applied to new text —
    * the first number an operator checks before reusing a committed vocab
    * on a fresh crawl (a drifting OOV rate is the retrain-the-tokenizer
    * signal, the vocab analog of the IVF codebook's assign_msd_q drift).
    * Per stratum: total token volume, OOV token count, and the OOV rate
    * in basis points (exact integer floor division — NULL when the
    * stratum has zero tokens). [[attachIds]] maps OOV to `unkId` rather
    * than dropping it, so the audit is a pure rollup of those markers.
    *
    * Scale shape: one narrow encode pass (the vocab reaches the plan as
    * ONE broadcast map row) + one partial agg on the stratum key — no
    * explode, no token-grain shuffle. NULL text counts as zero tokens. */
  def oovStats(docs: DataFrame, stratumCol: String, textCol: String,
      merges: Seq[(String, String)], vocab: DataFrame,
      unkId: Int = -1): DataFrame =
    attachIds(
      docs.select(col(stratumCol),
        bpeTokensFull(col(textCol), merges).as("__toks")),
      "__toks", vocab, unkId)
      .select(col(stratumCol),
        coalesce(size(col("ids")), lit(0)).cast("bigint").as("__n"),
        coalesce(size(filter(col("ids"), i => i === lit(unkId))), lit(0))
          .cast("bigint").as("__oov"))
      .groupBy(col(stratumCol))
      .agg(sum(col("__n")).as("tokens"), sum(col("__oov")).as("oov_tokens"))
      .withColumn("oov_bp",
        when(col("tokens") > 0,
          expr("(oov_tokens * 10000) div tokens")).cast("int"))

  /** Fixed demo merge table for the oracled query — the first merges any
    * English-corpus training run finds (digraphs chaining into trigraphs:
    * t+h, th+e, …). [[learnMerges]] produces corpus-specific tables; this
    * constant exists so the DuckDB oracle can replay the exact same chain.
    */
  val DemoMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r", "a" -> "n",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r",
    "e" -> "s", "an" -> "d")

  /** Tokenizer diagnostics per stratum — the numbers a trained merge
    * table is judged by before a corpus is committed to it: FERTILITY
    * (BPE tokens per word, basis points; ≥ 10000 by construction —
    * merges never cross the boundary symbol and every NON-EMPTY word is
    * ≥ 1 token, and empty words are excluded from the count so
    * empty/whitespace-only docs cannot break the bound — lower is
    * better) and COMPRESSION (chars per BPE token, basis points; chars
    * include whitespace — higher is better). One corpus scan,
    * partial-agg rollup, all integer math (floor-division ratios), so
    * the oracle replays it exactly and the numbers are bit-stable across
    * engines. Strata with no words / no tokens yield NULL ratios rather
    * than dividing by zero. */
  def tokenizerStats(df: DataFrame, stratumCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    df.groupBy(col(stratumCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(bpeTokenCount(col(textCol), merges).cast("bigint")).as("bpe_tokens"),
        sum(nonEmptyWordCount(textCol).cast("bigint")).as("words"),
        sum(length(col(textCol)).cast("bigint")).as("chars"))
      .withColumn("fertility_bp", fertilityBp("bpe_tokens", "words"))
      .withColumn("compression_bp", compressionBp("chars", "bpe_tokens"))

  /** Non-empty whitespace words of a text column — the word count the
    * fertility bound is stated over (empty/whitespace-only docs → 0). */
  def nonEmptyWordCount(textCol: String): Column =
    expr(s"size(filter(split($textCol, ' '), w -> w != ''))")

  /** floor(tokens·10⁴ / words), NULL when words = 0 — defined ONCE so
    * [[tokenizerStats]] and any pipeline rollup that already carries a
    * token count (e.g. CorpusMain's profile) cannot drift from the
    * oracle-pinned formula. */
  def fertilityBp(tokensCol: String, wordsCol: String): Column =
    when(col(wordsCol) > 0,
      expr(s"($tokensCol * 10000) div $wordsCol")).cast("int")

  /** floor(chars·10⁴ / tokens), NULL when tokens = 0. */
  def compressionBp(charsCol: String, tokensCol: String): Column =
    when(col(tokensCol) > 0,
      expr(s"($charsCol * 10000) div $tokensCol")).cast("int")

  /** SQL replay of `applyMerges(symbolize(c))` — the merged symbol string,
    * generated from the same merge constant the Spark side uses. Boundary
    * appears as chr(1), never as a raw control byte. */
  def mergedSql(c: String, merges: Seq[(String, String)]): String = {
    val sym = s"regexp_replace(replace($c, ' ', chr(1)), '([\\s\\S])', ' \\1', 'g')"
    merges.foldLeft(sym) { case (acc, (l, r)) =>
      s"replace($acc, ' $l $r', ' $l$r')"
    }
  }

  /** SQL replay of [[bpeTokenCount]] over a column `c` already holding the
    * [[mergedSql]] result, with `orig` the original text column. */
  def tokenCountSql(merged: String, orig: String): String =
    s"""CASE WHEN length($orig) = 0 THEN 0 ELSE
       |  length($merged) - length(replace($merged, ' ', ''))
       |  - (length($orig) - length(replace($orig, ' ', ''))) END""".stripMargin

  /** Ordered-merge applier for PRODUCTION-SIZE merge tables: the column
    * applier ([[bpeTokens]]) folds one literal `replace` per rank into a
    * single expression — ideal (codegen, engine-portable) up to a few
    * hundred ranks, but a 32k-merge vocabulary would need a 32k-deep
    * expression tree, which breaks plan/codegen limits long before
    * correctness. This realization keeps the EXACT same spec but runs it
    * as a typed mapPartitions (the operator policy's last-resort tier,
    * justified by that expression bound):
    *
    *  - the merge table reaches executors as ONE broadcast array;
    *  - each distinct word is tokenized once per partition and MEMOIZED
    *    (crawl text repeats its vocabulary, so the hit rate ≈ 1 and the
    *    per-row cost collapses to cache lookups);
    *  - per word, a present-symbol set skips every rank whose symbols
    *    cannot occur, so a 32k-rank table costs ~32k hash probes per
    *    DISTINCT word, not 32k string scans per row;
    *  - the per-word merge scan is the same left-to-right
    *    non-overlapping semantics as `replace` (OpsSpec asserts equality
    *    with the column applier on shared tables).
    *
    * Returns (idCol as string `id`, `toks` array<string>). Word
    * boundaries are exact by construction: tokenization is per
    * whitespace-word, and no learned merge can contain the boundary
    * symbol. */
  def bpeTokensLarge(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val table = spark.sparkContext.broadcast(merges.toArray)
    docs.select(col(idCol).cast("string").as("id"), col(textCol).as("text"))
      .as[(String, String)]
      .mapPartitions { it =>
        val t = table.value
        val needs = charMasks(t)
        // BOUNDED memo: crawl vocab has a heavy head (the cache's point)
        // and an unbounded long tail (URLs, hex ids) that must not pin
        // executor memory — cap entries and skip rarely-repeating long
        // words; applyWord is pure, so a miss only costs recompute
        val MaxEntries = 1 << 20
        val MaxWordLen = 64
        val cache = scala.collection.mutable.HashMap.empty[String, Array[String]]
        def word(w: String): Array[String] = cache.get(w) match {
          case Some(toks) => toks
          case None =>
            val toks = applyWord(w, t, needs)
            if (w.length <= MaxWordLen && cache.size < MaxEntries) cache(w) = toks
            toks
        }
        it.map { case (id, text) =>
          // NULL text yields NULL toks — parity with the column applier
          // bpeTokens, whose expressions propagate null (the two appliers
          // must be swappable on a nullable text column)
          val toks =
            if (text == null) null
            else if (text.isEmpty) Array.empty[String]
            else text.split(" ", -1).iterator.flatMap(word).toArray
          (id, toks)
        }
      }.toDF("id", "toks")
  }

  /** 64-bit char-presence masks per rank — the sound skip filter: a rank
    * whose pattern uses a char absent from the word cannot match. */
  private[graft] def charMasks(table: Array[(String, String)]): Array[Long] =
    table.map { case (l, r) =>
      (l + r).foldLeft(0L)((m, c) => m | (1L << (c % 64)))
    }

  /** One word through the ordered merge table — EXACTLY the column
    * applier's semantics: literal `String.replace` of " l r" with " lr"
    * per rank on the symbolized string. This includes replace's
    * prefix-splice behavior (symbols are space-PREFIXED, not delimited on
    * the right, so the pattern " c c" also matches a following symbol
    * "ca" and splices it to "cca") — the array-of-symbols formulation is
    * NOT equivalent; PropertySpec pins this with a composed-merge
    * counterexample family. Cost per rank is one contains-scan, skipped
    * when the rank's char mask needs a char the word lacks. */
  private[graft] def applyWord(w: String, table: Array[(String, String)],
      needs: Array[Long]): Array[String] = {
    if (w.isEmpty) return Array.empty
    val sb = new java.lang.StringBuilder(w.length * 2)
    var wm = 0L
    w.foreach { c => sb.append(' ').append(c); wm |= 1L << (c % 64) }
    var s = sb.toString
    var i = 0
    while (i < table.length) {
      if ((needs(i) & ~wm) == 0L) {
        val (l, r) = table(i)
        val pat = " " + l + " " + r
        if (s.contains(pat)) s = s.replace(pat, " " + l + r)
      }
      i += 1
    }
    s.substring(1).split(" ")
  }

  /** Test-friendly overload: masks computed inline. */
  private[graft] def applyWord(w: String,
      table: Array[(String, String)]): Array[String] =
    applyWord(w, table, charMasks(table))

  /** Train an ordered merge table on a corpus — the standard
    * vocabulary-weighted construction, shaped for scale:
    *  1. ONE shuffle builds the weighted vocabulary
    *     `groupBy(word).count` (crawl vocabularies are MUCH smaller than
    *     the corpus; `minCount` prunes the hapax tail that dominates raw
    *     vocab size but can never win a merge);
    *  2. each round is a pair-count aggregation over the vocab (map-side
    *     partial agg) + a 1-row argmax collect; the winning pair is folded
    *     into the vocab symbolization via `replace` and lineage is
    *     truncated by a round pin — the driver never holds more than
    *     the merge table itself.
    * Ties break deterministically: highest weight, then lexicographic
    * (left, right). Stops early when no pair occurs at least twice. */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 1L): Seq[(String, String)] =
    learnMergesBatched(docs, textCol, nMerges, minCount, batch = 1)

  /** [[learnMerges]] with BATCHED rounds — the driver-latency fix for
    * production vocabularies: one Spark round (pair-count aggregation +
    * one small ordered collect) selects up to `batch` merges instead of
    * one, so a 32k-merge vocabulary costs ~32k/batch sequential jobs
    * instead of 32k (the round count was the trainer's stated scale
    * limit).
    *
    * Within a round, candidates are taken in (count desc, left, right)
    * order and a pair is selected only if its SYMBOLS ARE DISJOINT from
    * every earlier selection of the round (neither side may equal a
    * symbol another selected pair consumes or produces). Disjointness
    * keeps every selected pair's count exact at application time up to
    * one residual splice case: symbols are space-PREFIXED (not
    * right-delimited), so applying a selected (a,b) can splice a NEW
    * occurrence of another selected (x, abc…) whose multi-char right
    * side string-starts with "ab" — counts for such a pair can drift
    * upward between collection and application. Output stays
    * deterministic either way (the fold order is fixed); only merge-rank
    * quality vs the sequential trainer can drift slightly in that corner,
    * on top of the divergence below. The main divergence from the
    * sequential
    * trainer is that a pair involving a just-created symbol (e.g.
    * (x, cd)) cannot be selected until the next round — the standard
    * fast-BPE batching approximation; `batch = 1` reduces EXACTLY to the
    * classic sequential trainer ([[learnMerges]] delegates here).
    * Selection remains a pure function of the ordered pair-count table —
    * fully deterministic. */
  def learnMergesBatched(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 1L, batch: Int = 100): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    // LAZY round pins: each round's candidate collect materializes the
    // current vocab, and the superseded copy is released right after it
    val rounds = new Pin.Rounds
    var vocab = rounds.next(docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select(regexp_replace(col("w"), lit("([\\s\\S])"), lit(" $1")).as("sym"), col("n")))

    val merges = ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      // over-collect 4× the batch: disjointness filtering skips candidates,
      // and the skipped ones resurface next round (no recall loss)
      val want = math.min(batch, nMerges - merges.length)
      val cands = vocab
        .withColumn("__syms", split(ltrim(col("sym")), " "))
        .select(col("n"), explode(expr(
          // sequence(1, 0) counts DOWN in Spark — guard 1-symbol words
          """IF(size(__syms) < 2, array(),
            |  transform(sequence(1, size(__syms) - 1),
            |    i -> struct(element_at(__syms, i) AS l,
            |                element_at(__syms, i + 1) AS r)))"""
            .stripMargin)).as("p"))
        .groupBy(col("p.l"), col("p.r")).agg(sum(col("n")).as("cnt"))
        .where(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(want * 4).collect()
      rounds.read()
      val used = scala.collection.mutable.Set.empty[String]
      val sel = ArrayBuffer.empty[(String, String)]
      cands.iterator.takeWhile(_ => sel.length < want).foreach { row =>
        val (l, r) = (row.getString(0), row.getString(1))
        if (!used(l) && !used(r) && !used(l + r)) {
          sel += ((l, r))
          used ++= Seq(l, r, l + r)
        }
      }
      if (sel.isEmpty) done = true
      else {
        merges ++= sel
        // the last round's vocab is never read: no pin for it
        if (merges.length < nMerges) vocab = rounds.next(vocab
          .withColumn("sym", sel.foldLeft(col("sym")) { case (acc, (l, r)) =>
            replace(acc, lit(s" $l $r"), lit(s" $l$r")) }))
      }
    }
    merges.toSeq
  }
}
