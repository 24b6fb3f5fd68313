package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Resume suite (SURVEY.md §5.2-4): run, simulate a crash after K of B
  * buckets by committing a partial manifest, rerun → final table identical;
  * completed buckets are NOT recomputed (asserted via metrics run_ids). */
class ResumeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft_resume_")
    d.toString
  }

  private def tableDocs(dir: String): Set[(String, Seq[(String, String, String, Int)])] =
    spark.read.parquet(s"$dir/data")
      .as[ExtractedDoc].collect()
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq)
      .toSet

  test("full run then partial-manifest rerun converges to the identical table") {
    val docs = DocGen.generate(spark, 800, 8)

    // golden: uninterrupted run
    val goldenDir = freshDir()
    ExtractJob.run(spark, docs, goldenDir, "golden", resume = false)
    val golden = tableDocs(goldenDir)
    assert(golden.size == 800)

    // crashed run: same job, then manifest truncated to buckets 0..5
    val dir = freshDir()
    ExtractJob.run(spark, docs, dir, "first", resume = false)
    val m = new Manifest(dir)
    val snap0 = m.head().get
    val partial = snap0.buckets.filter(_.bucket <= 5)
    assert(partial.nonEmpty && partial.size < DocGen.NumBuckets)
    // rewrite snap-0 in place as the "crashed" state
    val meta = Path.of(dir, "meta")
    val body = Files.readString(meta.resolve("snap-0.json"))
    val truncated = {
      val keep = partial.map(b =>
        s"""{"bucket":${b.bucket},"rows":${b.rows},"watermark_doc_id":"${b.watermarkDocId}"}""")
        .mkString("[", ",", "]")
      body.replaceAll("\"buckets\":\\[.*\\]", s""""buckets":$keep""")
    }
    Files.writeString(meta.resolve("snap-0.json"), truncated)

    // resume
    val snap1 = ExtractJob.run(spark, docs, dir, "second", resume = true)
    assert(snap1.id == 1)
    assert(snap1.buckets.map(_.bucket).toSet == (0 until DocGen.NumBuckets).toSet)

    // identical final table
    assert(tableDocs(dir) == golden)

    // completed buckets 0..5 were NOT recomputed: the second run's metrics
    // rows cover only buckets 6..15
    val secondRunBuckets = spark.read.parquet(s"$dir/metrics")
      .where($"run_id" === "second")
      .select("bucket").distinct().as[Int].collect().toSet
    assert(secondRunBuckets == (6 until DocGen.NumBuckets).toSet)

    // watermarks survive the merge and match the golden run
    val goldenWm = new Manifest(goldenDir).head().get.buckets.map(b => b.bucket -> b.watermarkDocId).toMap
    assert(snap1.buckets.map(b => b.bucket -> b.watermarkDocId).toMap == goldenWm)
  }

  test("write-audit-publish: a rejected audit commits nothing; the rerun republishes the identical table") {
    val docs = DocGen.generate(spark, 400, 8)
    val goldenDir = freshDir()
    ExtractJob.run(spark, docs, goldenDir, "golden", resume = false)
    val golden = tableDocs(goldenDir)

    val dir = freshDir()
    val m = new Manifest(dir)
    var auditSawRows = -1L
    // audit REJECTS: the table must never learn the run happened
    val rejected = ExtractJob.runGated(spark, docs, dir, "gated-1",
      audit = df => { auditSawRows = df.count(); false }, resume = false)
    assert(rejected.isEmpty)
    assert(auditSawRows == 400L, "audit must see exactly the uncommitted rows")
    assert(m.head().isEmpty, "no snapshot may exist after a rejected audit")
    assert(intercept[IllegalStateException] {
      m.readData(spark)
    }.getMessage.contains("no committed snapshot"))
    // the rejected files are on disk but invisible — ordinary orphans
    assert(m.orphanFiles().nonEmpty)

    // an audit that THROWS also publishes nothing
    intercept[RuntimeException] {
      ExtractJob.runGated(spark, docs, dir, "gated-2",
        audit = _ => throw new RuntimeException("auditor died"), resume = false)
    }
    assert(m.head().isEmpty)

    // the passing rerun replaces the rejected files (dynamic overwrite)
    // and publishes a table identical to the ungated golden run
    var secondSaw = -1L
    val snap = ExtractJob.runGated(spark, docs, dir, "gated-3",
      audit = df => { secondSaw = df.count(); true }, resume = false)
    assert(snap.nonEmpty && secondSaw == 400L)
    assert(tableDocs(dir) == golden)
    // committed lineage covers exactly the published rows — the earlier
    // rejected files are NOT referenced (still orphans, GC-able)
    assert(m.head().get.buckets.map(_.rows).sum == 400L)
    val referenced = m.head().get.buckets.flatMap(_.files).toSet
    assert(m.orphanFiles().forall(f => !referenced.contains(f)))
    // metrics exist only for the published run
    val runIds = spark.read.parquet(s"$dir/metrics").select($"run_id")
      .distinct().as[String].collect().toSet
    assert(runIds == Set("gated-3"))
  }

  test("extraction job table == ReferenceOracle per doc; metrics agree with the data") {
    val docs = DocGen.generate(spark, 500, 8)
    val dir = freshDir()
    ExtractJob.run(spark, docs, dir, "n", resume = false)
    val table = spark.read.parquet(s"$dir/data").as[ExtractedDoc].collect()
      .map(d => d.doc_id -> d).toMap
    val raw = docs.collect()
    assert(table.size == raw.length)
    raw.foreach { d =>
      val exp = ReferenceOracle.extract(d)
      val act = table(d.doc_id)
      assert(act.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
        exp.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)), s"spans of ${d.doc_id}")
      assert(act.extractor == exp.extractor && act.confidence == exp.confidence &&
        act.spans_in == d.spans.length && act.bucket == d.bucket, s"row of ${d.doc_id}")
    }
    // metrics come from data at rest: per-bucket docs/spans_out match the oracle
    val metrics = spark.read.parquet(s"$dir/metrics")
      .groupBy($"bucket").sum("docs", "spans_out")
      .as[(Int, Long, Long)].collect().toSet
    val expected = raw.groupBy(_.bucket).map { case (b, ds) =>
      (b, ds.length.toLong, ds.map(d => ReferenceOracle.extract(d).spans.length.toLong).sum)
    }.toSet
    assert(metrics == expected)
  }

  test("rerun of a complete table is a no-op (same snapshot returned)") {
    val dir = freshDir()
    val docs = DocGen.generate(spark, 300, 4)
    val s0 = ExtractJob.run(spark, docs, dir, "r0")
    val s1 = ExtractJob.run(spark, docs, dir, "r1")
    assert(s1.id == s0.id && s1.runId == s0.runId)
  }

  test("sparse input: zero-doc pending buckets are committed; rerun is a no-op") {
    val dir = freshDir()
    // 3 docs → most of the 16 buckets receive zero documents; they must
    // still be committed (rows=0) or the table never converges (ADVICE r1)
    val docs = DocGen.generate(spark, 3, 2)
    val s0 = ExtractJob.run(spark, docs, dir, "sparse0", resume = false)
    assert(s0.buckets.map(_.bucket).toSet == (0 until DocGen.NumBuckets).toSet)
    assert(s0.buckets.map(_.rows).sum == 3)
    assert(s0.buckets.count(_.rows == 0) > 0)
    s0.buckets.filter(_.rows == 0).foreach { b =>
      assert(b.watermarkDocId == "" && b.files.isEmpty)
    }
    val s1 = ExtractJob.run(spark, docs, dir, "sparse1")
    assert(s1.id == s0.id, "complete sparse table must be a no-op on rerun")
  }

  test("CorpusMain crash-resume: completed stages not recomputed, crash files orphaned, shards content-identical") {
    import org.apache.spark.sql.functions._
    val conf = spark.sessionState.newHadoopConf()
    def stageHead(out: String, name: String) =
      new Manifest(s"$out/stages/$name", conf).head()
    def shardsOf(out: String) = CorpusMain.readStage(spark, out, "shards")
      .select($"doc_id".cast("string"), $"domain", $"tokens", $"shard", md5($"text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getString(4))).toSet

    // golden: one uninterrupted run
    val golden = freshDir()
    val gStages = CorpusMain.run(spark, 2000, golden, 4)

    // crashy: injected crash at stage "deduped" AFTER its data write but
    // BEFORE its commit — the worst window (files on disk, no lineage)
    val crashy = freshDir()
    val boom = intercept[IllegalStateException] {
      CorpusMain.run(spark, 2000, crashy, 4, failAt = Some("deduped"))
    }
    assert(boom.getMessage.contains("injected crash"))
    // stages before the crash committed exactly once
    for (s <- Seq("texts", "cleaned", "lang_en", "exact")) {
      val h = stageHead(crashy, s)
      assert(h.exists(_.runId == s"$s@n=2000;salt=2000"),
        s"stage $s must be committed under its config fingerprint, got ${h.map(_.runId)}")
      assert(h.get.id == 0, s"stage $s: exactly one snapshot")
    }
    // the crashed stage has parquet on disk but NO commit → orphans
    val dm = new Manifest(s"$crashy/stages/deduped", conf)
    assert(dm.head().isEmpty, "crashed stage must not be committed")
    assert(new java.io.File(s"$crashy/stages/deduped/data/bucket=0").exists)

    // rerun: completes; prior stages resumed (snapshot ids unchanged —
    // a recompute would append snapshot 1), crashed stage recomputed
    val cStages = CorpusMain.run(spark, 2000, crashy, 4)
    for (s <- Seq("texts", "cleaned", "lang_en", "exact"))
      assert(stageHead(crashy, s).get.id == 0, s"stage $s must not recompute")
    assert(stageHead(crashy, "deduped").exists(_.runId == "deduped@n=2000;salt=2000"))
    // the crashed attempt's files are unreferenced orphans; GC removes
    // them and the committed read is untouched
    val before = shardsOf(crashy)
    assert(dm.orphanFiles().nonEmpty, "crashed write must be orphaned")
    dm.removeOrphans()
    assert(shardsOf(crashy) == before)

    // content identical to the uninterrupted run, stage counts too
    assert(shardsOf(crashy) == shardsOf(golden))
    assert(cStages == gStages, s"$cStages vs $gStages")

    // a third run over the COMPLETED pipeline recomputes nothing at all:
    // every stage keeps the snapshot id it had after the resume run
    val allStages = Seq("extracted", "texts", "pairs", "host_edges", "host_rank",
      "cleaned", "lang_en", "exact", "deduped",
      "substr", "lm_model", "lm_kept",
      "split_pairs", "split", "eval_holdout",
      "bpe_merges", "domain_cfg", "mixed", "shards", "vocab", "sequences",
      "profile")
    val idsAfterResume = allStages.map(s => s -> stageHead(crashy, s).get.id).toMap
    val dStages = CorpusMain.run(spark, 2000, crashy, 4)
    assert(dStages == gStages)
    allStages.foreach(s => assert(stageHead(crashy, s).get.id == idsAfterResume(s),
      s"stage $s grew a snapshot on a no-op rerun"))
  }

  test("CorpusMain reconfiguration: a rerun with different parameters recomputes instead of serving stale stages") {
    val conf = spark.sessionState.newHadoopConf()
    def stageHead(out: String, name: String) =
      new Manifest(s"$out/stages/$name", conf).head()

    val dir = freshDir()
    val small = CorpusMain.run(spark, 1000, dir, 4)
    assert(stageHead(dir, "texts").get.id == 0)

    // same outDir, bigger corpus: the fingerprint mismatch must force a
    // full recompute — WITHOUT it every stage resumes and the run reports
    // "raw" -> 2000 over 1000-doc stage outputs
    val big = CorpusMain.run(spark, 2000, dir, 4)
    assert(stageHead(dir, "texts").get.id == 1,
      "reconfigured run must commit a new snapshot, not resume")
    val smallText = small.toMap.apply("with_text")
    val bigText = big.toMap.apply("with_text")
    assert(bigText > smallText,
      s"with_text must scale with nDocs, got $smallText -> $bigText")

    // the reconfigured report equals a fresh-dir run of the same config:
    // no stale stage leaked into any downstream count
    val fresh = CorpusMain.run(spark, 2000, freshDir(), 4)
    assert(big == fresh, s"$big vs $fresh")

    // and the ORIGINAL config still resumes its own commits: rerunning the
    // small config recomputes again (runId now carries the big config) —
    // snapshots are per-config, latest wins, readers plan only new files
    val small2 = CorpusMain.run(spark, 1000, dir, 4)
    assert(small2 == small, s"$small2 vs $small")
  }

  test("manifest-planned read scans exactly the snapshot's files, pruned by bucket") {
    val dir = freshDir()
    val docs = DocGen.generate(spark, 400, 4)
    ExtractJob.run(spark, docs, dir, "files0", resume = false)
    val m = new Manifest(dir)
    val snap = m.head().get
    assert(snap.buckets.forall(b => b.rows == 0 || b.files.nonEmpty),
      "every non-empty bucket must carry file lineage")
    val some = snap.buckets.filter(_.rows > 0).map(_.bucket).take(5).toSet
    val expectFiles = snap.buckets.filter(b => some.contains(b.bucket)).flatMap(_.files)
    val df = m.readData(spark, Some(some))
    // the scan is planned from the manifest file list: pruned to exactly
    // the selected buckets' files, with the bucket partition column intact
    assert(df.inputFiles.length == expectFiles.length)
    assert(df.columns.contains("bucket"))
    val viaDirectory = spark.read.parquet(s"$dir/data")
      .where($"bucket".isin(some.toSeq: _*)).count()
    assert(df.count() == viaDirectory)
    assert(m.readData(spark).count() == 400)
  }

  test("head() recovers from a missing HEAD via the highest snap file") {
    val dir = freshDir()
    val m = new Manifest(dir)
    m.commit("a", Seq(Manifest.BucketState(0, 1, "d1")))
    m.commit("b", Seq(Manifest.BucketState(1, 2, "d2")))
    Files.delete(Path.of(dir, "meta", "HEAD")) // crash window simulation
    val h = m.head()
    assert(h.exists(_.id == 1), s"expected recovery to snap-1, got $h")
  }

  test("manifest commit is atomic and merges bucket state across snapshots") {
    val dir = freshDir()
    val m = new Manifest(dir)
    assert(m.head().isEmpty)
    m.commit("a", Seq(Manifest.BucketState(0, 10, "d1"), Manifest.BucketState(1, 20, "d2")))
    m.commit("b", Seq(Manifest.BucketState(1, 25, "d9"), Manifest.BucketState(2, 5, "d3")))
    val h = m.head().get
    assert(h.id == 1 && h.parent == 0)
    assert(h.buckets.map(b => (b.bucket, b.rows, b.watermarkDocId)) ==
      Seq((0, 10L, "d1"), (1, 25L, "d9"), (2, 5L, "d3"))) // newer state wins
    assert(Files.list(Path.of(dir, "meta")).iterator().asScala.map(_.getFileName.toString).toSet
      == Set("HEAD", "snap-0.json", "snap-1.json"))
  }
}
