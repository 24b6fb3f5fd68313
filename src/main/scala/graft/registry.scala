package graft

import java.util.regex.{Matcher, Pattern}
import org.apache.spark.unsafe.types.UTF8String

/** Extractor registry: ordered first-match URL-pattern dispatch.
  *
  * Reference analog: qetch/__init__.py::get_extractor +
  * qetch/extractors/_common.py::BaseExtractor.{handles,can_handle,get_handle}
  * (SURVEY.md §2A O1–O3). qetch keeps a module-level list of extractor
  * classes and returns the FIRST whose regex handles match the URL; dispatch
  * is ordered and deterministic. Here the registry is a small immutable
  * `Seq[ExtractorRule]` built on the driver; it is config, not data, and
  * its compiled form [[CompiledRegistry]] ships inside the query plan.
  *
  * Patterns use named groups exactly like qetch's handles
  * (e.g. `(?P<id>...)` → Java `(?<id>...)`).
  */
final case class ExtractorRule(
    name: String,
    /** Java regex with named groups; matched against span media_refs. */
    pattern: String,
    /** Canonical-ref template: `${g}` substituted with named group `g`. */
    canonical: String)

object Registry {

  /** The built-in rule set, in dispatch order (first match wins).
    * gfyclip ~ qetch/extractors/gfycat.py::GfycatExtractor.handles
    * (quality-variant url-key map, raw→basic normalization);
    * chanboard ~ qetch/extractors/fourchan.py::FourChanExtractor.handles
    * (board/tim/ext capture);
    * albumhost ~ qetch's imgur-album analog: ONE page yields SEVERAL
    * logical items (album/item capture), each item a quality-variant
    * group — the two-level ordering case (items in page order, variants
    * collapsed per item). All hosts are synthetic (.test TLD). */
  val rules: Seq[ExtractorRule] = Seq(
    ExtractorRule(
      name = "gfyclip",
      pattern = """https?://media\.gfyclip\.test/(?<id>[A-Za-z][A-Za-z0-9]*)\.(?<ext>mp4|webm|gif)""",
      canonical = "https://gfyclip.test/${id}"),
    ExtractorRule(
      name = "chanboard",
      pattern = """https?://img\.chanboard\.test/(?<board>[a-z]+)/(?<tim>\d+)\.(?<ext>[a-z0-9]+)""",
      canonical = "https://chanboard.test/${board}/${tim}.${ext}"),
    ExtractorRule(
      name = "albumhost",
      pattern = """https?://i\.albumhost\.test/(?<album>[a-z0-9]+)/(?<item>\d+)\.(?<ext>[a-z0-9]+)""",
      canonical = "https://albumhost.test/${album}/${item}")
  )

  /** Fallback extractor names (no registered pattern matched). */
  val GenericExtractor = "generic"   // doc has media but no rule matched
  val TextOnlyExtractor = "textonly" // doc has no media at all

  /** Per-source auth policy — the qetch AuthRegistry analog
    * (qetch/auth.py::AuthRegistry, ::AuthTypes BASIC|OAUTH|NONE; Borg-pattern
    * global → immutable broadcast config, SURVEY.md §1.2 D5). Sources absent
    * from the map require no auth. */
  val sourcePolicy: Map[String, String] = Map(
    "src13" -> "basic", "src17" -> "oauth")

  /** Quality ranking of media variants, qetch gfycat url-key→quality map
    * analog (mp4Url→1.0, webmUrl→0.5, gif lower). Integer scores keep
    * classification deterministic (SURVEY.md §7.5-1). Unknown ext → 10. */
  val qualityOf: Map[String, Int] = Map(
    "mp4" -> 100, "webm" -> 60, "m4v" -> 55, "jpg" -> 50,
    "jpeg" -> 50, "png" -> 45, "gif" -> 30)

  def quality(ext: String): Int = qualityOf.getOrElse(ext, 10)
}

/** The compiled form of a rule set — the one thing the `extract_spans`
  * expression ([[graft.plans.ExtractExpression]]) evaluates against.
  * Patterns, literal needles, UTF-8 rule names and canonical templates are
  * built lazily once per instance; the instance ships inside the physical
  * plan, so an executor builds them once per task (qetch compiles handles
  * at class definition time). A case class, so two expressions over equal
  * rule sets are equal plan nodes. */
final case class CompiledRegistry(rules: Seq[ExtractorRule]) {

  @transient private lazy val patterns: Array[Pattern] =
    rules.map(r => Pattern.compile(r.pattern)).toArray

  /** Per-rule guaranteed-literal needle ([[CompiledRegistry.literalNeedle]])
    * as UTF-8 bytes: a ref that does not CONTAIN it cannot match the rule,
    * so the regex — and the UTF8String→String copy it needs — is skipped.
    * Unmatched-host refs, the common case in an open crawl, never allocate.
    * null = no safe needle, always run the regex. */
  @transient private lazy val needles: Array[UTF8String] = rules.map { r =>
    val n = CompiledRegistry.literalNeedle(r.pattern)
    if (n.isEmpty) null else UTF8String.fromString(n)
  }.toArray

  /** Rule names as UTF8Strings, by registration-order index. */
  @transient lazy val names: Array[UTF8String] =
    rules.map(r => UTF8String.fromString(r.name)).toArray

  /** First rule in registration order whose pattern fully matches `ref` —
    * qetch get_handle analog. Returns the rule index and stores its Matcher
    * at `matchers(pos)`, or returns -1 (nothing stored). Priority is always
    * THIS rule set's order, never the global [[Registry.rules]] (a backfill
    * runs with an EDITED set). */
  def dispatch(ref: UTF8String, matchers: Array[Matcher], pos: Int): Int = {
    val ps = patterns; val ns = needles
    var refStr: String = null
    var r = 0
    while (r < ps.length) {
      if (ns(r) == null || ref.contains(ns(r))) {
        if (refStr == null) refStr = ref.toString
        val m = ps(r).matcher(refStr)
        if (m.matches()) { matchers(pos) = m; return r }
      }
      r += 1
    }
    -1
  }

  /** Canonical templates parsed ONCE into literal/group segments — the
    * per-span rewrite is then a plain StringBuilder concat instead of a
    * regex replaceAllIn per media group (hot path at corpus scale). */
  @transient private lazy val templates: Array[Array[Either[String, String]]] =
    rules.map { r =>
      val segs = scala.collection.mutable.ArrayBuffer.empty[Either[String, String]]
      val pat = "\\$\\{([a-zA-Z]+)\\}".r
      var last = 0
      pat.findAllMatchIn(r.canonical).foreach { g =>
        if (g.start > last) segs += Left(r.canonical.substring(last, g.start))
        segs += Right(g.group(1))
        last = g.end
      }
      if (last < r.canonical.length) segs += Left(r.canonical.substring(last))
      segs.toArray
    }.toArray

  /** Rewrite a ref matched by rule `rule` to its canonical form by
    * substituting named groups into the rule's template (qetch
    * handle_raw→handle_basic normalization, gfycat.py, SURVEY.md §2A O7). */
  def canonicalize(rule: Int, m: Matcher): String = {
    val segs = templates(rule)
    val sb = new java.lang.StringBuilder(48)
    var i = 0
    while (i < segs.length) {
      segs(i) match {
        case Left(lit) => sb.append(lit)
        case Right(g)  => sb.append(m.group(g))
      }
      i += 1
    }
    sb.toString
  }

  /** Variant-group key for a matched media ref: same (rule, identity) ⇒
    * quality variants of the same logical item (qetch content-list grouping,
    * SURVEY.md §2A D2). Identity = all named groups except `ext`. */
  def groupKey(rule: Int, m: Matcher): String = {
    val name = rules(rule).name
    name + ":" + (name match {
      case "gfyclip"   => m.group("id")
      case "chanboard" => m.group("board") + "/" + m.group("tim")
      case "albumhost" => m.group("album") + "/" + m.group("item")
      case _           => m.group(0)
    })
  }

  /** Quality of a matched ref's variant, by its `ext` group
    * ([[Registry.quality]]; a rule without an `ext` group ranks as ""). */
  def quality(m: Matcher): Int = Registry.quality(
    try Option(m.group("ext")).getOrElse("") catch { case _: Exception => "" })

  /** Plan strings name the rules, not every pattern. */
  override def toString: String = rules.map(_.name).mkString("rules(", ",", ")")
}

object CompiledRegistry {
  val default: CompiledRegistry = CompiledRegistry(Registry.rules)

  /** Longest literal substring that EVERY match of `pattern` must contain —
    * used as a byte-level precheck that skips regex evaluation (and, in the
    * native expression, String materialization) for refs that cannot match.
    *
    * Conservative by construction: only top-level (group-depth-0) literal
    * runs count, a literal quantified by '?', '*' or '{' is excluded,
    * escaped char classes (\d, \w, …) break the run, and any top-level alternation
    * disables the needle entirely. Returns "" when no safe needle ≥ 4 chars
    * exists (callers must then always run the regex). */
  def literalNeedle(pattern: String): String = {
    // inline flag groups ((?i), (?m:...) -- any "(?" followed by a letter)
    // change matching semantics globally/lexically; no literal is
    // guaranteed verbatim then. Named groups "(?<", non-capturing "(?:"
    // and lookarounds "(?=", "(?!" are fine (contents are depth>0 anyway).
    var f = pattern.indexOf("(?")
    while (f >= 0) {
      if (f + 2 < pattern.length && pattern.charAt(f + 2).isLetter) return ""
      f = pattern.indexOf("(?", f + 2)
    }
    val runs = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    def flush(): Unit = { if (cur.nonEmpty && depth == 0) runs += cur.toString(); cur.clear() }
    def nextCh(j: Int): Char = if (j < pattern.length) pattern.charAt(j) else '\u0000'
    while (i < pattern.length) {
      pattern.charAt(i) match {
        case '\\' =>
          val e = nextCh(i + 1)
          i += 1
          if ("dwsDWSbBAGzZ".indexOf(e.toInt) >= 0 || e.isDigit) flush() // class/anchor/backref
          else if ("?*{".indexOf(nextCh(i + 1).toInt) >= 0) flush() // quantified literal
          else cur.append(e)
        case '(' => flush(); depth += 1
        case ')' => flush(); depth -= 1
        case '[' | ']' | '{' | '}' | '^' | '$' | '.' => flush()
        case '|' =>
          flush()
          if (depth == 0) return "" // top-level alternation: nothing guaranteed
        case '?' | '*' | '+' =>
          if (cur.nonEmpty) cur.deleteCharAt(cur.length - 1) // quantified literal
          flush()
        case c =>
          if ("?*{".indexOf(nextCh(i + 1).toInt) >= 0) flush() // c is quantified
          else cur.append(c)
      }
      i += 1
    }
    flush()
    runs.filter(_.length >= 4).sortBy(-_.length).headOption.getOrElse("")
  }
}
