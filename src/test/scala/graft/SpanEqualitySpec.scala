package graft

import org.scalatest.funsuite.AnyFunSuite

/** THE invariant (SURVEY.md §5.2-1, BASELINE.json input_hint): for every
  * fixture and generated doc, the extractor's span sequence — through
  * ExtractJob.transform and through the bare columnar projection — equals
  * the single-threaded oracle's on (kind, text, media_ref, order), with
  * the same extractor and confidence and offsets dense and strictly
  * increasing. */
class SpanEqualitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def seq(d: ExtractedDoc): Seq[(String, String, String)] =
    d.spans.map(s => (s.kind, s.text, s.media_ref))

  private def runPipeline(docs: Seq[RawDoc]): Map[String, ExtractedDoc] =
    ExtractJob.transform(spark.createDataset(docs), 4)
      .collect().map(d => d.doc_id -> d).toMap

  test("hand-written fixtures: pipeline == oracle span-for-span") {
    val docs = DocGen.fixtures
    val actual = runPipeline(docs)
    val failures = docs.flatMap { d =>
      val exp = ReferenceOracle.extract(d)
      val act = actual(d.doc_id)
      if (seq(act) != seq(exp) || act.extractor != exp.extractor ||
          act.confidence != exp.confidence)
        Some(s"${d.doc_id}: expected ${seq(exp)} [${exp.extractor} ${exp.confidence}], " +
          s"got ${seq(act)} [${act.extractor} ${act.confidence}]")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("2000 generated docs: pipeline == oracle span-for-span") {
    val docs = (0L until 2000L).map(DocGen.docFor)
    val actual = runPipeline(docs)
    docs.foreach { d =>
      val exp = ReferenceOracle.extract(d)
      val act = actual(d.doc_id)
      assert(seq(act) == seq(exp), s"span mismatch for ${d.doc_id}")
      assert(act.extractor == exp.extractor, s"extractor mismatch for ${d.doc_id}")
      assert(math.abs(act.confidence - exp.confidence) == 0.0, s"confidence mismatch for ${d.doc_id}")
    }
  }

  private def runColumnar(docs: Seq[RawDoc]): Map[String, ExtractedDoc] =
    plans.GraftFunctions.extractColumnar(spark.createDataset(docs).toDF())
      .as[ExtractedDoc].collect().map(d => d.doc_id -> d).toMap

  test("columnar extract_spans expression == oracle on fixtures + 2000 generated docs") {
    val docs = DocGen.fixtures ++ (0L until 2000L).map(DocGen.docFor)
    val actual = runColumnar(docs)
    docs.foreach { d =>
      val exp = ReferenceOracle.extract(d)
      val act = actual(d.doc_id)
      assert(seq(act) == seq(exp), s"span mismatch for ${d.doc_id}")
      assert(act.extractor == exp.extractor, s"extractor mismatch for ${d.doc_id}")
      assert(act.confidence == exp.confidence, s"confidence mismatch for ${d.doc_id}")
      assert(act.spans.map(_.offset) == act.spans.indices.map(identity))
    }
  }

  test("extract_spans is callable from SQL after extension registration") {
    plans.GraftFunctions.register(spark)
    spark.createDataset(DocGen.fixtures).toDF().createOrReplaceTempView("__fx")
    val n = spark.sql(
      "SELECT doc_id, extract_spans(spans).extractor AS e FROM __fx").count()
    assert(n == DocGen.fixtures.size)
  }

  test("null text/media_ref normalize to empty in the extractor and the oracle") {
    // foreign parquet can carry nulls the generator never produces; the
    // extractor and the oracle must agree (null → "")
    val doc = RawDoc("n0000000001", Vector(
      RawSpan("title", null, null, 0),
      RawSpan("text", "the table scan joins the fast row", null, 1),
      RawSpan("media", null, "https://media.gfyclip.test/NullTest.mp4", 2),
      RawSpan("media", null, null, 3)), "src0", DocGen.bucketOf("n0000000001"))
    val oracle = ReferenceOracle.extract(doc)
    val native = runPipeline(Seq(doc))(doc.doc_id)
    assert(seq(native) == seq(oracle), s"native=${seq(native)} oracle=${seq(oracle)}")
    assert(native.spans.map(_.kind) == Seq("title", "text", "media"))
    assert(native.spans.forall(s => s.text != null && s.media_ref != null))
  }

  test("offsets are dense 0..n-1 and strictly increasing") {
    val docs = (0L until 500L).map(DocGen.docFor)
    runPipeline(docs).values.foreach { d =>
      assert(d.spans.map(_.offset) == d.spans.indices.map(identity))
    }
  }

  test("specific fixture semantics") {
    val byId = runPipeline(DocGen.fixtures)
    // empty doc → no spans, textonly
    assert(byId("f0000000000").spans.isEmpty)
    assert(byId("f0000000000").extractor == "textonly")
    // all boilerplate → empty
    assert(byId("f0000000001").spans.isEmpty)
    // variant run mp4 wins, canonicalized
    assert(seq(byId("f0000000006")).collect { case ("media", _, r) => r } ==
      Seq("https://gfyclip.test/AbcDef"))
    // two adjacent groups stay two spans
    assert(byId("f0000000007").spans.count(_.kind == "media") == 2)
    // registry order beats doc order: gfyclip later in doc still wins dispatch
    assert(byId("f0000000014").extractor == "gfyclip")
    assert(byId("f0000000013").extractor == "chanboard")
    // out-of-order input offsets are honored: title(2) before text(5)
    assert(byId("f0000000017").spans.map(_.kind) == Seq("title", "text"))
    // generic passthrough media
    assert(seq(byId("f0000000009")) ==
      Seq(("media", "", "https://cdn.src4.test/file1.bin")))
    // multi-item album: items stay ordered, each collapsed to best variant
    assert(seq(byId("f0000000024")).collect { case ("media", _, r) => r } ==
      Seq("https://albumhost.test/alb1/100", "https://albumhost.test/alb1/101"))
    assert(byId("f0000000024").extractor == "albumhost")
    // a variant run broken by text does NOT merge across the break
    assert(seq(byId("f0000000025")).collect { case ("media", _, r) => r } ==
      Seq("https://albumhost.test/alb2/100", "https://albumhost.test/alb2/100"))
    // dispatch priority: lower registry index wins over doc position
    assert(byId("f0000000026").extractor == "chanboard")
    assert(byId("f0000000027").extractor == "gfyclip")
    assert(seq(byId("f0000000027")).collect { case ("media", _, r) => r } ==
      Seq("https://albumhost.test/alb4/100", "https://gfyclip.test/Mid",
        "https://albumhost.test/alb4/101"))
  }
}
