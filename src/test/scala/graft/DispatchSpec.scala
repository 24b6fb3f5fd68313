package graft

import java.util.regex.Matcher
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** [[CompiledRegistry.dispatch]] as an Option: (rule index, rule name, Matcher). */
object Dispatch {
  def apply(reg: CompiledRegistry, ref: String): Option[(Int, String, Matcher)] = {
    val ms = new Array[Matcher](1)
    val r = reg.dispatch(UTF8String.fromString(ref), ms, 0)
    if (r < 0) None else Some((r, reg.rules(r).name, ms(0)))
  }
}

/** literalNeedle: the guaranteed-substring precheck must be sound (every
  * matching string contains the needle) and useful on the real registry. */
class NeedleSpec extends AnyFunSuite {
  test("needles of the registry rules are the host literals") {
    assert(CompiledRegistry.literalNeedle(Registry.rules(0).pattern) == "://media.gfyclip.test/")
    assert(CompiledRegistry.literalNeedle(Registry.rules(1).pattern) == "://img.chanboard.test/")
    assert(CompiledRegistry.literalNeedle(Registry.rules(2).pattern) == "://i.albumhost.test/")
  }

  test("needle soundness: every accepted URL contains its rule's needle") {
    val reg = CompiledRegistry.default
    val urls = (0L until 500L).map(DocGen.docFor)
      .flatMap(_.spans).filter(s => s.kind == "media" && s.media_ref.nonEmpty)
    urls.foreach { s =>
      Dispatch(reg, s.media_ref).foreach { case (r, _, _) =>
        val needle = CompiledRegistry.literalNeedle(reg.rules(r).pattern)
        assert(needle.isEmpty || s.media_ref.contains(needle), s"${s.media_ref} vs $needle")
      }
    }
  }

  test("needle is conservative on risky constructs") {
    assert(CompiledRegistry.literalNeedle("abc|def") == "") // top-level alternation
    assert(CompiledRegistry.literalNeedle("""https?://x\.y/(a|b)/\d+""") == "://x.y/")
    assert(CompiledRegistry.literalNeedle("""(optional)?[abc]+\w*""") == "")
    // inline flags: '(?i)HOST' matches lowercase refs that do NOT contain 'HOST'
    assert(CompiledRegistry.literalNeedle("""(?i)HTTPS://Media\.Host\.test/x""") == "")
    assert(CompiledRegistry.literalNeedle("""(?idmsux)abcdef""") == "")
    // backreference content is unknown — it must break the literal run
    assert(CompiledRegistry.literalNeedle("""(abcd)\1_suffix_here""") == "_suffix_here")
    // named groups / non-capturing / lookaheads stay usable
    assert(CompiledRegistry.literalNeedle("""prefix_(?<id>x+)(?:y)(?=z)""") == "prefix_")
  }
}

/** Dispatch determinism + accept/reject URL corpora per pattern —
  * qetch can_handle analog (SURVEY.md §5.2-2, FIXTURES.md §4). */
class DispatchSpec extends AnyFunSuite {
  private val reg = CompiledRegistry.default
  private def dispatch(u: String) = Dispatch(reg, u)

  private val gfyAccept = Seq(
    "https://media.gfyclip.test/AbcDef.mp4",
    "http://media.gfyclip.test/X.webm",
    "https://media.gfyclip.test/Clip123.gif")
  private val gfyReject = Seq(
    "https://media.gfyclip.test/AbcDef.avi",      // unknown ext
    "https://media.gfyclip.test/123abc.mp4",      // id must start with letter
    "https://gfyclip.test/AbcDef.mp4",            // wrong host (canonical, not media)
    "ftp://media.gfyclip.test/AbcDef.mp4",        // wrong scheme
    "https://media.gfyclip.test/a/b.mp4",         // extra path segment
    "https://media.gfyclip.test/AbcDef.mp4?x=1")  // trailing query (full-match)
  private val chanAccept = Seq(
    "https://img.chanboard.test/g/1400000001.jpg",
    "http://img.chanboard.test/diy/99.webm")
  private val chanReject = Seq(
    "https://img.chanboard.test/G/1400000001.jpg",   // uppercase board
    "https://img.chanboard.test/g/notnum.jpg",
    "https://chanboard.test/g/1400000001.jpg")

  test("gfyclip corpus") {
    gfyAccept.foreach(u => assert(dispatch(u).exists(_._2 == "gfyclip"), u))
    gfyReject.foreach(u => assert(!dispatch(u).exists(_._2 == "gfyclip"), u))
  }

  test("chanboard corpus") {
    chanAccept.foreach(u => assert(dispatch(u).exists(_._2 == "chanboard"), u))
    chanReject.foreach(u => assert(dispatch(u).isEmpty, u))
  }

  private val albAccept = Seq(
    "https://i.albumhost.test/alb1/100.jpg",
    "http://i.albumhost.test/x9/5.mp4")
  private val albReject = Seq(
    "https://i.albumhost.test/ALB1/100.jpg",  // uppercase album id
    "https://i.albumhost.test/alb1/ten.jpg",  // item must be numeric
    "https://albumhost.test/alb1/100.jpg",    // canonical host, not source
    "https://i.albumhost.test/alb1/100.jpg?x" // trailing query (full-match)
  )

  test("albumhost corpus") {
    albAccept.foreach(u => assert(dispatch(u).exists(_._2 == "albumhost"), u))
    albReject.foreach(u => assert(dispatch(u).isEmpty, u))
  }

  test("canonicalization substitutes named groups") {
    val Some((r1, _, m1)) = dispatch("https://media.gfyclip.test/AbcDef.webm")
    assert(reg.canonicalize(r1, m1) == "https://gfyclip.test/AbcDef")
    val Some((r2, _, m2)) = dispatch("https://img.chanboard.test/tv/42.png")
    assert(reg.canonicalize(r2, m2) == "https://chanboard.test/tv/42.png")
    val Some((r3, _, m3)) = dispatch("https://i.albumhost.test/alb1/100.webm")
    assert(reg.canonicalize(r3, m3) == "https://albumhost.test/alb1/100")
    // two-level key: same album, different item → DIFFERENT groups
    val Some((r4, _, m4)) = dispatch("https://i.albumhost.test/alb1/101.webm")
    assert(reg.groupKey(r3, m3) != reg.groupKey(r4, m4))
  }

  test("first-match is stable under repeated calls") {
    val urls = (gfyAccept ++ chanAccept ++ gfyReject).toVector
    val first = urls.map(u => dispatch(u).map(_._2))
    (1 to 5).foreach { _ =>
      assert(urls.map(u => dispatch(u).map(_._2)) == first)
    }
  }
}
