package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-cleaning operators for large-scale training-data pipelines —
  * the filtering stages a web-crawl corpus passes through before training
  * (the Gopher / C4 / RefinedWeb cleaning recipe, re-expressed as Spark
  * column algebra and scale-safe plan shapes):
  *
  *  - repetition statistics (Gopher repetition rules): per-document word /
  *    bigram / line repetition fractions — embarrassingly parallel column
  *    algebra, no shuffle;
  *  - PII redaction (email / IPv4 / long-digit-run scrubbing): ordered
  *    `regexp_replace` chain, codegen-friendly, no shuffle;
  *  - benchmark decontamination: drop corpus documents sharing any word
  *    k-gram with a benchmark set — broadcast semi-join against the (small)
  *    benchmark shingle set, corpus side stays narrow (doc_id, shingle);
  *  - cross-document repeated-line pruning (C4's "three-sentence span seen
  *    before" / RefinedWeb line-dedup analog): count each line across the
  *    corpus with a partial hash-agg, broadcast the (tiny) hot-line set,
  *    anti-join it out of every document, reassemble in document order.
  *
  * All formulas are integer-or-md5 valued (q4 = basis-point quantization
  * via `floor(x · 10000)`) so the DuckDB oracle twins in [[graft.Queries]]
  * hash-match exactly; every reference to qetch semantics is indirect —
  * qetch (see SURVEY.md §0, empty mount) has no cleaning stage, these come
  * from the north rule's training-data-pipeline mandate. */
object Cleaning {

  /** Fixed 8-word boilerplate line used by the demo corpora (the planted
    * "subscribe" call every spammy site repeats) — shared verbatim with the
    * DuckDB oracles in [[graft.Queries]]. */
  val BoilerLine: String = "subscribe now for free daily updates right here"

  /** Fixed 9-word benchmark probe sentence (planted into benchmark docs and
    * contaminated corpus docs by the decontamination demo). */
  val BenchProbe: String = "the quick brown fox jumps over the lazy dog"

  /** Whitespace word array — the shared input of the repetition stats. */
  def wordsOf(textCol: Column): Column = split(textCol, " ")

  /** Fraction (in basis points, floor(frac·10000) as int) of words taken
    * by the single most frequent word — Gopher's "fraction of the document
    * in the top word". Zero shuffle, but the mode scan is O(distinct·n)
    * PER ROW — quadratic-ish on a pathological long document.
    * PRECONDITION: run after a document length cap (Gopher gates always
    * do), or use [[topWordFracQ4Capped]] which bakes the cap in. */
  def topWordFracQ4(w: Column): Column = fracQ4(modeCountCol(w), w)

  /** [[topWordFracQ4]] evaluated over the first `maxWords` words only —
    * the bounded-cost form for corpora that may contain pathological
    * 100k-word documents: the statistic (numerator AND denominator) is
    * computed on the capped prefix, exactly as Gopher computes it on the
    * length-capped document. Per-row cost is bounded by
    * O(distinct(prefix)·maxWords) regardless of document length. */
  def topWordFracQ4Capped(w: Column, maxWords: Int): Column = {
    require(maxWords >= 1, s"maxWords must be >= 1, got $maxWords")
    val capped = slice(w, 1, maxWords)
    fracQ4(modeCountCol(capped), capped)
  }

  /** Same statistic over adjacent word bigrams (Gopher's top-2-gram rule);
    * documents shorter than 2 words score 0. Same O(distinct·n) per-row
    * cost and length-cap precondition as [[topWordFracQ4]]. */
  def topBigramFracQ4(w: Column): Column = {
    val bi = transform(sequence(lit(1), size(w) - 1),
      i => concat(element_at(w, i), lit(" "), element_at(w, i + 1)))
    when(size(w) < 2, 0).otherwise(
      (floor(modeCountCol(bi).cast("double") /
        (size(w) - 1).cast("double") * 10000)).cast("int"))
  }

  /** Fraction of CHARACTERS (basis points, capped at 10000) contained in
    * occurrences of the single most frequent word n-gram — the Gopher
    * top-n-gram rules for n ∈ {2, 3, 4} (Rae et al. 2021 §A1.1; the rule
    * family [[topWordFracQ4]]/[[topBigramFracQ4]] count WORDS for,
    * completed here in the paper's character currency). Conventions,
    * pinned for cross-engine determinism: an occurrence contributes
    * `count · length(gram)` characters where the gram string is
    * single-space-joined (overlapping occurrences may double-count, hence
    * the cap — the standard published formulation); the denominator is
    * `length(array_join(w, ' '))`; among equally-frequent grams the
    * LONGEST wins (maximizing the statistic — the conservative gate
    * direction). Documents shorter than n words score 0. Zero shuffle;
    * per-row cost O(distinct·L) — same length-cap precondition as
    * [[topWordFracQ4]]. */
  def topNgramCharFracQ4(w: Column, n: Int): Column = {
    require(n >= 2 && n <= 10, s"n must be in [2, 10], got $n")
    val stat = bindOnce(transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " "))) { grams =>
      val best = array_max(transform(array_distinct(grams),
        g => struct(size(filter(grams, y => y === g)).as("cnt"),
          length(g).as("len"))))
      least(lit(10000),
        floor(best.getField("cnt").cast("double") * best.getField("len") /
          length(array_join(w, " ")) * 10000)).cast("int")
    }
    when(size(w) < n, 0).otherwise(stat)
  }

  /** Fraction of TOKEN characters (basis points) sitting inside any
    * duplicated word n-gram — the Gopher duplicate-n-gram rules for
    * n ∈ {5..10} (Rae et al. 2021 §A1.1). Counted over the position
    * UNION of all duplicated-gram occurrences (no double counting — the
    * within-document analog of [[graft.ops.Dedup.exactSubstringDedup]]'s
    * cut set), with spaces excluded from numerator and denominator
    * (numerator = Σ length of covered tokens, denominator = Σ length of
    * all tokens). Documents shorter than n words score 0. Zero shuffle;
    * per-row cost O(distinct·L) — same length-cap precondition as
    * [[topWordFracQ4]]. */
  def dupNgramCharFracQ4(w: Column, n: Int): Column = {
    require(n >= 2 && n <= 20, s"n must be in [2, 20], got $n")
    val stat = bindOnce(transform(sequence(lit(1), size(w) - (n - 1)),
        i => array_join(slice(w, i, lit(n)), " "))) { grams =>
      bindOnce(filter(array_distinct(grams),
          g => size(filter(grams, y => y === g)) >= 2)) { dupSet =>
        val dupStarts = filter(sequence(lit(1), size(grams)),
          i => array_contains(dupSet, element_at(grams, i)))
        val covered = array_distinct(flatten(transform(dupStarts,
          i => sequence(i, i + (n - 1)))))
        val coveredChars = aggregate(covered, lit(0L),
          (acc, p) => acc + length(element_at(w, p)))
        floor(coveredChars.cast("double") /
          length(array_join(w, "")).cast("double") * 10000).cast("int")
      }
    }
    when(size(w) < n, 0).otherwise(stat)
  }

  /** Duplicate-line fraction in basis points: chunk the word array into
    * fixed `lineLen`-word lines (the deterministic "line" proxy for corpora
    * without newlines), then floor((lines − distinct lines) / lines ·
    * 10000). A document whose boilerplate repeats scores high. */
  def dupLineFracQ4(w: Column, lineLen: Int): Column = {
    val ls = linesExpr(w.toString, lineLen)
    val dup = expr(s"size($ls) - size(array_distinct($ls))")
    (floor(dup.cast("double") / expr(s"size($ls)").cast("double") * 10000)).cast("int")
  }

  /** SQL fragment: `lineLen`-word line array of word-array fragment `s` —
    * shared shape with the DuckDB replay in [[graft.Queries]]. */
  private def linesExpr(s: String, lineLen: Int): String =
    s"transform(sequence(0, (size($s) - 1) div $lineLen), " +
      s"i -> array_join(slice($s, i * $lineLen + 1, $lineLen), ' '))"

  /** Let-binding for column expressions: evaluate `value` ONCE per row and
    * bind it into `body` through a single-element higher-order transform.
    * Catalyst performs no cross-invocation subexpression elimination inside
    * HOF lambdas, so an expensive array expression referenced inside a
    * `filter`/`transform` lambda is otherwise RE-EVALUATED on every element
    * — turning the O(L²) n-gram statistics above into O(L³) per row. The
    * lambda variable is a bound value; referencing it costs nothing. The
    * same binding keeps a predicate from inlining an aliased column at
    * every reference when the optimizer pushes it through the projection
    * that defines the alias ([[graft.CorpusPrep.cleanGate]]), which is
    * why it is visible outside `ops`. */
  private[graft] def bindOnce(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), v => body(v)), 1)

  /** Count of the most frequent element of an array column — pure Column
    * API (no expr-string round-trip, so any derived column works).
    * O(distinct·n) per row: see the precondition on [[topWordFracQ4]].
    * The array is [[bindOnce]]-bound so a derived-expression argument
    * (e.g. [[topBigramFracQ4]]'s bigram transform) is built once per row,
    * not once per distinct element. */
  private def modeCountCol(arr: Column): Column =
    bindOnce(arr)(a =>
      array_max(transform(array_distinct(a), x => size(filter(a, y => y === x)))))

  private def fracQ4(cnt: Column, w: Column): Column =
    (floor(cnt.cast("double") / size(w).cast("double") * 10000)).cast("int")

  // ------------------------------------------------------------------
  // Gopher QUALITY rules (Rae et al. 2021 §A1.1, the non-repetition
  // half): mean word length, symbol-to-word ratios, bullet / ellipsis
  // line fractions, alphabetic-word fraction, required-stopword count.
  // All per-row integer column algebra (Q2/Q4 quantization for exact
  // DuckDB replay), zero shuffle.
  // ------------------------------------------------------------------

  /** Mean word length in CENTI-characters (floor(mean·100) as int) —
    * Gopher gates mean word length to [3, 10], i.e. [300, 1000] here. */
  def meanWordLenQ2(w: Column): Column =
    floor(aggregate(w, lit(0L), (a, x) => a + length(x)).cast("double") /
      size(w) * 100).cast("int")

  /** Non-overlapping occurrence count of literal `sym` (left-to-right,
    * `replace` semantics — identical in Spark and DuckDB). */
  def occurrenceCount(t: Column, sym: String): Column =
    ((length(t) - length(replace(t, lit(sym), lit("")))) / sym.length).cast("int")

  /** Symbol-to-word ratio in basis points: occurrences of `sym` per word.
    * Gopher drops documents whose hash ('#') or ellipsis ('...') ratio
    * exceeds 0.1 (1000 bp). Uncapped: a symbol-only page can exceed 10000. */
  def symbolWordFracQ4(t: Column, w: Column, sym: String): Column =
    floor(occurrenceCount(t, sym).cast("double") / size(w) * 10000).cast("int")

  /** Fraction (bp) of newline-split lines starting with a bullet marker
    * ('- ', '* ', '• ') — Gopher drops documents above 0.9 (9000 bp). A
    * document with no newline is one line. */
  def bulletLineFracQ4(t: Column): Column =
    bindOnce(split(t, "\n")) { ls =>
      floor(size(filter(ls, l => l.startsWith("- ") || l.startsWith("* ") ||
          l.startsWith("• "))).cast("double") / size(ls) * 10000).cast("int")
    }

  /** Fraction (bp) of lines ending with an ellipsis ('...') — Gopher drops
    * documents above 0.3 (3000 bp). */
  def ellipsisLineFracQ4(t: Column): Column =
    bindOnce(split(t, "\n")) { ls =>
      floor(size(filter(ls, l => l.endsWith("..."))).cast("double") /
        size(ls) * 10000).cast("int")
    }

  /** Fraction (bp) of words containing at least one ASCII letter — Gopher
    * requires ≥ 0.8 (8000 bp). */
  def alphaWordFracQ4(w: Column): Column =
    floor(size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("double") /
      size(w) * 10000).cast("int")

  /** Gopher's required-stopword list (the paper's eight function words). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Count of DISTINCT [[GopherStopwords]] present in the word array —
    * Gopher requires at least 2. O(8·L) per row. */
  def stopwordHits(w: Column): Column =
    size(filter(array(GopherStopwords.map(lit): _*),
      s => array_contains(w, s))).cast("int")

  /** The composed Gopher quality gate (every §A1.1 quality rule at the
    * paper's thresholds; word-count bounds parameterized — the paper uses
    * [50, 100000], corpora of short-form documents want a lower floor).
    * Combine with the repetition gates ([[topWordFracQ4]] /
    * [[topNgramCharFracQ4]] / [[dupNgramCharFracQ4]]) for the full rule
    * set, as [[graft.CorpusMain]] does. */
  def gopherQualityGate(t: Column, w: Column,
      minWords: Int = 50, maxWords: Int = 100000): Column =
    size(w).between(minWords, maxWords) &&
      meanWordLenQ2(w).between(300, 1000) &&
      symbolWordFracQ4(t, w, "#") <= 1000 &&
      symbolWordFracQ4(t, w, "...") <= 1000 &&
      bulletLineFracQ4(t) <= 9000 &&
      ellipsisLineFracQ4(t) <= 3000 &&
      alphaWordFracQ4(w) >= 8000 &&
      stopwordHits(w) >= 2

  // ------------------------------------------------------------------
  // C4 rules (Raffel et al. 2020 §2.2, "Exploring the Limits of Transfer
  // Learning…" — the C4 corpus construction): line-level retention rules
  // plus page-level discard rules. With the Gopher rules above and the
  // CCNet LM gate in [[Lm]], this completes the three canonical web-corpus
  // cleaning recipes. All per-row column algebra, zero shuffle; the
  // cross-document "three-sentence span seen before" dedup is
  // [[pruneRepeatedLines]] / [[graft.ops.Dedup.exactSubstringDedup]].
  // ------------------------------------------------------------------

  /** C4 line-retention predicate: keep a line iff it ends in terminal
    * punctuation ('.', '!', '?' or a closing double quote), contains at
    * least `minLineWords` words (the paper uses 5), and does not mention
    * the word "javascript" in any case. */
  def c4KeepLine(l: Column, minLineWords: Int = 5): Column =
    (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
      l.endsWith("\"")) &&
      size(split(l, " ")) >= minLineWords &&
      !lower(l).rlike("\\bjavascript\\b")

  /** C4 line filtering: newline-split `t`, keep only [[c4KeepLine]] lines,
    * rejoin with newlines (order-preserving). A fully-filtered page
    * becomes the empty string. */
  def c4CleanLines(t: Column, minLineWords: Int = 5): Column =
    array_join(filter(split(t, "\n"), l => c4KeepLine(l, minLineWords)), "\n")

  /** Sentence count proxy: occurrences of sentence-terminal characters
    * ('.', '!', '?') — the deterministic stand-in for C4's (unspecified)
    * sentence splitter. */
  def sentenceCount(t: Column): Column =
    (length(t) - length(regexp_replace(t, "[.!?]", ""))).cast("int")

  /** C4 page-level gate over the ORIGINAL text `t` and its line-filtered
    * form `cleaned`: at least `minSentences` sentences must survive line
    * filtering (paper: 3), and the original page must be free of the
    * "lorem ipsum" placeholder phrase and of curly brackets (the paper's
    * code-page heuristic — '{' appears in every programming language).
    * The paper's dirty-word page rule composes via [[blockwordFracQ4]],
    * which carries its own list parameter. */
  def c4PageGate(t: Column, cleaned: Column, minSentences: Int = 3): Column =
    sentenceCount(cleaned) >= minSentences &&
      !lower(t).contains("lorem ipsum") &&
      !t.contains("{")

  /** The composed C4 gate: line-filter, then page-gate — true iff the page
    * survives. Pair with [[c4CleanLines]] for the retained text. Meant for
    * punctuation-bearing web text; a corpus without sentence punctuation
    * (e.g. this repo's synthetic word-stream corpus) fails the sentence
    * floor by construction, which is why [[graft.CorpusMain]] gates on the
    * Gopher/CCNet rules instead. */
  def c4Gate(t: Column, minLineWords: Int = 5, minSentences: Int = 3): Column =
    bindOnce(c4CleanLines(t, minLineWords))(c =>
      c4PageGate(t, c, minSentences))

  /** INTRA-document line dedup: newline-split `t`, keep only the FIRST
    * occurrence of each distinct line, rejoin (order-preserving) — the
    * within-page twin of the cross-corpus [[pruneRepeatedLines]]
    * (RefinedWeb/Dolma-style "remove duplicated lines within document":
    * nav bars, cookie banners and footers repeat INSIDE a page long before
    * they repeat across the crawl). Pure per-row array algebra — narrow,
    * no shuffle, unlike the cross-doc form which must aggregate line
    * counts corpus-wide. Cost is O(L²) string compares per doc in the
    * line COUNT L (array_position scans from the front per line) — lines
    * per page are bounded small; for the corpus-frequency variant with
    * its partial-agg shape see [[pruneRepeatedLines]]. The line array is
    * [[bindOnce]]-bound so the split runs once per row, not once per
    * line. */
  def dedupLinesWithinDoc(t: Column): Column =
    bindOnce(split(t, "\n"))(ls =>
      array_join(filter(ls, (l, i) => array_position(ls, l) === i + 1), "\n"))

  /** Sliding-window chunking for context-window preparation: word windows
    * of `maxTokens` starting every `maxTokens - overlap` words (the
    * standard stride-with-overlap split of long documents into training
    * sequences). Returns array<struct<idx:int, chunk:string>>; the final
    * window may be shorter but is NEVER fully contained in the previous
    * one (the window count is ceil((n − maxTokens)/step) + 1, so no text
    * is emitted twice beyond the intended overlap). Pure per-row algebra —
    * `w` must be a plain column reference. */
  def chunkWindows(w: Column, maxTokens: Int, overlap: Int): Column = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val s = w.toString
    val maxIdx = s"greatest(0, (size($s) - $maxTokens + ${step - 1}) div $step)"
    expr(s"""transform(sequence(0, $maxIdx),
            |  i -> named_struct('idx', CAST(i AS INT),
            |                    'chunk', array_join(slice($s, i * $step + 1, $maxTokens), ' ')))"""
      .stripMargin)
  }

  /** Sliding windows over an ARBITRARY array column — the pure-Column
    * twin of [[chunkWindows]] (which interpolates `w.toString` into an
    * expr and therefore requires a plain column reference): works on any
    * DERIVED array, e.g. a BPE token array. Returns
    * array<struct<idx:int, toks:array<...>>> — chunks stay token ARRAYS
    * (re-joining BPE symbols with spaces would not reconstruct text). Same
    * window invariants as chunkWindows: windows of `maxTokens` every
    * `maxTokens − overlap`, the final window may be shorter but is never
    * fully contained in the previous one. */
  def chunkWindowsCol(arr: Column, maxTokens: Int, overlap: Int): Column = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    // ceil((n - maxTokens) / step) in Column algebra; values are row-local
    // ints so the double division is exact
    val maxIdx = greatest(lit(0),
      floor((size(arr) - lit(maxTokens) + lit(step - 1)).cast("double") / lit(step))
        .cast("int"))
    transform(sequence(lit(0), maxIdx), i =>
      struct(i.cast("int").as("idx"),
        slice(arr, i * lit(step) + 1, lit(maxTokens)).as("toks")))
  }

  /** BPE-TOKEN chunking — context-window preparation in the SAME unit the
    * shard packer budgets ([[graft.ops.Bpe.bpeTokenCount]]): chunk the
    * document's BPE token array (column applier — for production 32k-rank
    * tables run [[graft.ops.Bpe.bpeTokensLarge]] first and pass its `toks`
    * column to [[chunkWindowsCol]]). A whitespace-word chunker and a
    * BPE-token packer measure different things; this aligns chunk budget
    * with token budget. */
  def chunkBpeWindows(textCol: Column, merges: Seq[(String, String)],
      maxTokens: Int, overlap: Int): Column =
    chunkWindowsCol(graft.ops.Bpe.bpeTokens(textCol, merges), maxTokens, overlap)

  // ------------------------------------------------------------------
  // PII redaction
  // ------------------------------------------------------------------

  /** Redaction patterns, ordered: emails first (so their digits never leak
    * into the number rule), then dotted IPv4 quads, then ≥12-digit runs
    * (card/account numbers). Every construct (classes, bounded repetition,
    * ASCII `\b`) behaves identically under Java regex and RE2, so the same
    * pattern string drives Spark and the DuckDB oracle. */
  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val LongNumRe: String = "[0-9]{12,}"

  /** Scrub PII in redaction order — a pure `regexp_replace` chain (stays
    * inside whole-stage codegen; per-row cost, no shuffle). */
  def redactPii(textCol: Column): Column = {
    val e = regexp_replace(textCol, EmailRe, "<EMAIL>")
    val i = regexp_replace(e, Ipv4Re, "<IP>")
    regexp_replace(i, LongNumRe, "<NUM>")
  }

  /** Match count for one PII pattern (audit columns for the redaction). */
  def piiCount(textCol: Column, pattern: String): Column =
    regexp_count(textCol, lit(pattern))

  // ------------------------------------------------------------------
  // Blocklist filtering (domain + content word list)
  // ------------------------------------------------------------------

  /** Drop rows whose `domainCol` is on the blocklist. Small lists compile
    * to a literal NOT IN (map-side, no shuffle); large lists (real URL
    * blocklists run to millions of entries) should come as a DataFrame via
    * the overload below. */
  def filterBlockedDomains(df: DataFrame, domainCol: String,
                           blocklist: Seq[String]): DataFrame =
    df.where(!col(domainCol).isin(blocklist: _*))

  /** Blocklist as a relation: broadcast LEFT ANTI join — the shape for
    * lists too large for a plan literal. */
  def filterBlockedDomains(df: DataFrame, domainCol: String,
                           blocklist: DataFrame): DataFrame =
    df.join(broadcast(blocklist.select(col(blocklist.columns.head).as(domainCol))),
      Seq(domainCol), "left_anti")

  /** Fraction (basis points) of words on a blockword list — the C4-style
    * content gate (`blockwordFracQ4(w, list) <= threshold`). Integer-exact,
    * per-row, codegen-friendly. */
  def blockwordFracQ4(w: Column, blockwords: Seq[String]): Column = {
    // Column API (typedLit + array_contains), never string interpolation:
    // a blockword containing an apostrophe ("don't") would break a
    // quoted-literal SQL build, and arbitrary list contents would be
    // expression injection.
    val bw = typedLit(blockwords.sorted)
    floor(size(filter(w, x => array_contains(bw, x))).cast("double")
      / size(w).cast("double") * 10000).cast("int")
  }

  // ------------------------------------------------------------------
  // Text normalization (the canonical form upstream of hashing/dedup)
  // ------------------------------------------------------------------

  /** Latin accent fold map shared verbatim with the DuckDB oracle — an
    * EXPLICIT 1:1 `translate` table rather than a locale/ICU normalizer,
    * so both engines produce byte-identical output by construction (NFC /
    * full Unicode folding is engine-dependent and would break the
    * hash-match contract; the documented scope is Latin-1 letters). */
  val AccentFrom: String = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿ"
  val AccentTo: String   = "aaaaaaceeeeiiiinoooooouuuuyy"

  /** Canonical display form of a text column: lowercase → fold Latin
    * accents ([[AccentFrom]]→[[AccentTo]]) → control chars (0x00–0x1F,
    * 0x7F — tabs/newlines included) to spaces → collapse space runs →
    * trim. Pure per-row column algebra, zero shuffle, codegen-friendly;
    * NULL propagates. The canonicalization every hash-keyed stage
    * (exact dedup, minhash shingles, line pruning) should run FIRST —
    * otherwise "Foo\tBar" and "foo bar" count as different content. */
  def normalizeText(t: Column): Column =
    trim(regexp_replace(
      regexp_replace(translate(lower(t), AccentFrom, AccentTo),
        "[\\x00-\\x1f\\x7f]", " "),
      "  +", " "))

  /** Aggressive dedup KEY form: [[normalizeText]] then strip every char
    * outside `[a-z0-9 ]` and re-collapse (punctuation/emoji variants of
    * the same sentence collapse to one key — the fuzzy-exact dedup most
    * web pipelines run instead of byte-exact). Use as the `contentCol`
    * of [[graft.ops.Dedup.exactDedup]]; NOT a display form (word joins
    * like "don't"→"dont" are deliberate). */
  def dedupKey(t: Column): Column =
    trim(regexp_replace(
      regexp_replace(normalizeText(t), "[^a-z0-9 ]", ""),
      "  +", " "))

  // ------------------------------------------------------------------
  // Benchmark decontamination
  // ------------------------------------------------------------------

  /** md5 word-`k`-gram shingles of a text column (the decontamination
    * join key; md5 keeps the shuffled rows fixed-width). Documents shorter
    * than `k` words have no shingles. */
  def shingles(textCol: Column, k: Int): Column = {
    val s = s"split(${textCol.toString()}, ' ')"
    expr(s"""IF(size($s) < $k, array(),
            |  transform(sequence(1, size($s) - ${k - 1}),
            |    i -> md5(array_join(slice($s, i, $k), ' '))))""".stripMargin)
  }

  /** GPT-3-style benchmark decontamination: a corpus document is
    * contaminated iff it shares ≥1 word-`k`-gram with any benchmark
    * document. Returns one row per corpus document: `(idCol, n_hits,
    * keep)` with `n_hits` = distinct overlapping shingles.
    *
    * Scale shape: the benchmark side (eval sets, ~MBs even for large
    * suites) is distinct-reduced and BROADCAST; the corpus side explodes
    * to narrow (id, shingle) rows and never shuffles on its own — the only
    * wide op is the per-document hit count, a partial hash-agg. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int): DataFrame = {
    val sh = shingles(col(textCol), k)
    val benchSh = bench.select(explode(sh).as("sh")).distinct()
    val corpusSh = corpus.select(col(idCol), explode(sh).as("sh"))
    val hits = corpusSh.join(broadcast(benchSh), "sh")
      .groupBy(col(idCol)).agg(countDistinct(col("sh")).cast("int").as("n_hits"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0)) > 0, 0).otherwise(1).as("keep"))
  }

  /** [[decontaminate]] behind a CONSTANT-SIZE [[Bloom]] filter instead of
    * a broadcast of the raw bench shingle set — for registries too large
    * to broadcast (multi-GB union of every published eval suite). Same
    * output contract `(idCol, n_hits, keep)`, with the filter's one-sided
    * error surfaced honestly: a doc the exact form flags is ALWAYS flagged
    * here too (no false negatives — the safe direction; keep=1 rows are
    * guaranteed leak-free), but `n_hits` counts bloom-POSITIVE shingles,
    * an upper bound on true hits, so extra keep=0 drops occur at the
    * filter's false-positive rate — over-dropping a sliver of clean corpus
    * is the deliberate price of the O(1) broadcast. Size `mBits ≈ 10×`
    * the distinct bench shingle count for ~1% FP at `nHashes = 3`.
    *
    * Scale shape: the bench side reduces to ONE row of `mBits/8` bytes
    * (built with zero driver collect); the corpus side is a narrow
    * explode → broadcast-crossJoin probe, all codegen; the only wide op
    * is the same per-doc partial hash-agg as the exact form. */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, k: Int, mBits: Int,
                         nHashes: Int): DataFrame = {
    val sh = shingles(col(textCol), k)
    val bm = Bloom.build(bench.select(explode(sh).as("key")), "key", mBits, nHashes)
    val hits = corpus.select(col(idCol), explode(sh).as("key"))
      .crossJoin(broadcast(bm))
      .where(Bloom.mightContain(col("bm"), col("key"), mBits, nHashes))
      .groupBy(col(idCol)).agg(countDistinct(col("key")).cast("int").as("n_hits"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0)) > 0, 0).otherwise(1).as("keep"))
  }

  /** SEMANTIC benchmark decontamination — [[decontaminate]]'s embedding
    * twin: a corpus document is contaminated iff any benchmark vector sits
    * within cosine ≥ `threshold` of its embedding (paraphrased eval
    * leakage that shares no word k-gram — the case the n-gram form misses
    * by construction; run BOTH). Same output contract: one row per corpus
    * document, `(idCol, n_hits, keep)`.
    *
    * The search is IVF-celled and bench-broadcast — see
    * [[graft.ops.Similarity.semanticCrossHits]] for the plan shape and
    * the `nProbe` recall knob; recall is bounded by the cell assignment
    * exactly as in SemDeDup, so for small bench sets prefer a generous
    * `nProbe` over more centroids. */
  def semanticDecontaminate(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, threshold: Double, nCentroids: Int,
      nProbe: Int = 1, lloydIters: Int = 0): DataFrame = {
    val hits = Similarity.semanticCrossHits(corpus, bench, idCol, vecCol,
      threshold, nCentroids, nProbe, lloydIters)
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0)) > 0, 0).otherwise(1).as("keep"))
  }

  // ------------------------------------------------------------------
  // Cross-document repeated-line pruning
  // ------------------------------------------------------------------

  /** Remove every line that appears in ≥ `maxDocs` distinct documents
    * (site boilerplate: nav bars, cookie banners, "subscribe" calls), then
    * reassemble each document's surviving lines in document order — the
    * C4/RefinedWeb cross-document line-dedup stage. Lines are `lineLen`-word
    * chunks (see [[dupLineFracQ4]]). Returns `(idCol, n_lines, n_kept,
    * new_text)`; a document whose lines are all boilerplate keeps 0.
    *
    * Scale shape: line occurrence counting is a partial hash-agg over
    * md5(line) (map-side combine collapses within-partition repeats, so a
    * line with millions of copies reaches the reducer as one row per map
    * partition — no task ever owns the raw copies). The hot SET, however,
    * is data-dependent: one row per DISTINCT line that crosses `maxDocs`
    * documents. On a site-boilerplate corpus that is tiny and the default
    * broadcast anti-join is right; on a real web crawl at a low `maxDocs`
    * it can be millions of distinct lines (the C4 situation) — pass
    * `broadcastHot = false` there and the removal becomes a shuffled
    * left-anti join on md5(line) instead of a driver-sized broadcast. */
  def pruneRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
                         lineLen: Int, maxDocs: Int,
                         broadcastHot: Boolean = true): DataFrame = {
    val lineArr = expr(linesExpr(s"split($textCol, ' ')", lineLen))
    val lines = docs.select(col(idCol), posexplode(lineArr).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
    val hot = lines.groupBy("lh")
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") >= maxDocs)
      .select("lh")
    val kept = lines.join(if (broadcastHot) broadcast(hot) else hot,
      Seq("lh"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(pos, line))), s -> s.line)"), " ")
          .as("new_text"))
    docs.select(col(idCol), size(lineArr).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }

  /** DOMAIN-scoped repeated-line pruning — the RefinedWeb/CCNet variant of
    * [[pruneRepeatedLines]]: a line is boilerplate iff it repeats across ≥
    * `maxDocs` distinct documents OF THE SAME DOMAIN (nav bars, footers,
    * cookie banners are per-site artifacts; the global rule either misses
    * them — each site's footer is globally rare — or, tuned low enough to
    * catch them, starts deleting genuinely common sentences from unrelated
    * sites). Removal is keyed on `(domain, md5(line))`, so the same
    * sentence survives on domains where it is NOT boilerplate. Returns
    * `(idCol, domainCol, n_lines, n_kept, new_text)`.
    *
    * Scale shape: identical to the global form — partial hash-agg on the
    * (domain, line-hash) pair, then a left-anti equi-join — but the
    * domain key makes the hot set strictly per-site, so it is ALWAYS
    * shuffled (never broadcast): at web scale the union of every site's
    * boilerplate is far beyond driver memory, and the join key (domain,
    * lh) co-partitions with the counting agg anyway (one shuffle feeds
    * both under AQE exchange reuse). A skew note: the agg side cannot
    * straggle (partial agg collapses a domain's million-copy footer
    * map-side), and the anti-join side hashes on the PAIR, so even a
    * giant domain spreads across reducers by line. */
  def pruneRepeatedLinesByDomain(docs: DataFrame, idCol: String,
      domainCol: String, textCol: String, lineLen: Int,
      maxDocs: Int): DataFrame = {
    val lineArr = expr(linesExpr(s"split($textCol, ' ')", lineLen))
    val lines = docs.select(col(idCol), col(domainCol),
        posexplode(lineArr).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
    val hot = lines.groupBy(col(domainCol), col("lh"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .where(col("nd") >= maxDocs)
      .select(col(domainCol), col("lh"))
    val kept = lines.join(hot, Seq(domainCol, "lh"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(pos, line))), s -> s.line)"), " ")
          .as("new_text"))
    docs.select(col(idCol), col(domainCol), size(lineArr).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col(domainCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
  }
}
