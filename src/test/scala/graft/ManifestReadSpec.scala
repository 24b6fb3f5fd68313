package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Manifest reads plan from the snapshot and one driver-side footer read:
  * building a frame starts no Spark job, and its schema is the one Spark's
  * own inference gives for the same files. Merge reads keep Spark's
  * footer merge. */
class ManifestReadSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs (the listener bus is drained on
    * both sides, so no earlier job leaks in and no late event is missed). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftBus.drain(spark.sparkContext)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** What Spark infers for the same files of table `dir`. */
  private def inferred(dir: String, files: Seq[String],
      merge: Boolean = false): StructType =
    spark.read.option("basePath", s"$dir/data").option("mergeSchema", merge.toString)
      .parquet(files: _*).schema

  private def filesOf(m: Manifest, buckets: Set[Int]): Seq[String] =
    m.head().get.buckets.filter(b => buckets(b.bucket)).flatMap(_.files)

  /** Builds every frame without a job, then checks each schema against
    * Spark's inference over `files`. */
  private def assertPlansFree(dir: String,
      frames: Seq[(String, () => DataFrame, Seq[String])]): Unit = {
    val (built, jobs) = jobsDuring(frames.map { case (n, f, _) => n -> f() })
    assert(jobs == 0, s"building ${frames.map(_._1).mkString(", ")} started $jobs jobs")
    built.zip(frames).foreach { case ((n, df), (_, _, files)) =>
      val want = inferred(dir, files)
      // a frame that drops the partition column is compared without it
      val cmp = if (df.columns.contains("bucket")) want
        else StructType(want.filterNot(_.name == "bucket"))
      assert(df.schema == cmp, s"$n: ${df.schema.treeString} vs ${cmp.treeString}")
    }
  }

  test("extraction table: readData, readFiles and readAppended frames plan without a Spark job") {
    val dir = freshDir("graft_mread_ext_")
    ExtractJob.run(spark, DocGen.generate(spark, 300, 4), dir, "r0", resume = false)
    val m = new Manifest(dir, spark.sessionState.newHadoopConf())
    val all = filesOf(m, (0 until DocGen.NumBuckets).toSet)
    assert(all.nonEmpty && all.length <= 32, all.length)
    val some = filesOf(m, Set(2, 5))
    val s0 = m.head().get.id
    assertPlansFree(dir, Seq(
      ("readData", () => m.readData(spark), all),
      ("readData(buckets)", () => m.readData(spark, Some(Set(2, 5))), some),
      ("readData(idRange)", () => m.readData(spark, idRange = Some(("d0000000010", "d0000000020"))),
        m.planFiles(m.head().get, idRange = Some(("d0000000010", "d0000000020")))),
      // idRange past every id: the empty-plan branch
      ("readData(empty plan)", () => m.readData(spark, idRange = Some(("~", "~"))), all.take(1)),
      ("readFiles", () => m.readFiles(spark, some.reverse), some),
      ("readAppended(-1)", () => m.readAppended(spark, -1), all),
      ("readAppended(empty window)", () => m.readAppended(spark, s0), all)))
    // the frames still read the committed rows
    assert(m.readData(spark).count() == 300L)
    assert(m.readData(spark, idRange = Some(("~", "~"))).count() == 0L)
    // scanStats reads through the manifest: only its aggregation's two
    // jobs (adaptive execution runs the shuffle-map stage and the result
    // stage as one job each), no schema job of a reader of its own
    val (stats, statJobs) = jobsDuring(ExtractJob.scanStats(spark, dir, all))
    assert(stats.values.map(_.docs).sum == 300L)
    assert(statJobs == 2, s"scanStats ran $statJobs jobs")
  }

  test("indexed corpus table: each namespace plans without a job; footerSchema groups buckets as Spark inference did") {
    val tbl = freshDir("graft_mread_idx_")
    val docs = (0 until 60).map(i => (f"c$i%04d", s"doc $i words about topic ${i % 7} and more words here ${i * 3}"))
      .toDF("doc_id", "text")
    streaming.EventStream.admitIndexedBatch(docs.where($"doc_id" < "c0030"), 0L, tbl,
      "s", "doc_id", "text", 0.8, 3, 4, corpusBuckets = 2)
    streaming.EventStream.admitIndexedBatch(docs.where($"doc_id" >= "c0030"), 1L, tbl,
      "s", "doc_id", "text", 0.8, 3, 4, corpusBuckets = 2)
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    val (ix, mb) = (streaming.EventStream.indexBucketFor(2),
      streaming.EventStream.metricsBucketFor(2))
    assertPlansFree(tbl, Seq(
      ("corpus", () => streaming.EventStream.readCorpus(spark, tbl, 2), filesOf(m, Set(0, 1))),
      ("index", () => streaming.EventStream.readIndex(spark, tbl, 2), filesOf(m, Set(ix))),
      ("metrics", () => streaming.EventStream.readAdmissionMetrics(spark, tbl, 2), filesOf(m, Set(mb)))))
    assert(streaming.EventStream.readAdmissionMetrics(spark, tbl, 2).count() == 2L)

    val buckets = m.head().get.buckets.filter(_.files.nonEmpty)
    def grouping(schemaOf: String => StructType): Set[Set[Int]] =
      buckets.groupBy(b => schemaOf(b.files.head)).values.map(_.map(_.bucket).toSet).toSet
    val (byFooter, footerJobs) = jobsDuring(grouping(f => Manifest.footerSchema(spark, f)))
    assert(footerJobs == 0)
    buckets.foreach { b =>
      assert(Manifest.footerSchema(spark, b.files.head) == spark.read.parquet(b.files.head).schema,
        s"bucket ${b.bucket}")
    }
    assert(byFooter == grouping(f => spark.read.parquet(f).schema))
    assert(byFooter == Set(Set(0, 1), Set(ix), Set(mb)), byFooter)
  }

  test("a widened bucket: the unmerged read takes Spark's schema file, a merged read shows the added column") {
    val dir = freshDir("graft_mread_wide_")
    val m = new Manifest(dir, spark.sessionState.newHadoopConf())
    Seq(("a", 1L)).toDF("doc_id", "n").coalesce(1)
      .write.parquet(s"$dir/data/bucket=0")
    val narrow = m.listBucketFiles(0)
    Seq(("b", 2L, "x")).toDF("doc_id", "n", "extra").coalesce(1)
      .write.mode("append").parquet(s"$dir/data/bucket=0")
    val files = m.listBucketFiles(0)
    assert(files.length == 2 && narrow.length == 1)
    // recorded out of path order: the schema file is the first in path
    // order, not the first in the manifest
    m.commit("w", Seq(Manifest.BucketState(0, 2L, "b", files.sorted.reverse)))

    // unmerged: whichever file sorts first, exactly as Spark picks it
    val (plain, jobs) = jobsDuring(m.readData(spark))
    assert(jobs == 0)
    assert(plain.schema == inferred(dir, files))
    assert(plain.count() == 2L)
    // merged: the added column is there, old rows read NULL in it
    val merged = m.readData(spark, mergeSchema = true)
    assert(merged.schema == inferred(dir, files, merge = true))
    assert(merged.columns.contains("extra"))
    assert(merged.select($"doc_id", $"extra").as[(String, Option[String])].collect().toSet ==
      Set(("a", None), ("b", Some("x"))))
    assert(m.readFiles(spark, narrow ++ files.filterNot(narrow.contains), mergeSchema = true)
      .columns.contains("extra"))
  }

  test("corpus stages and the train table plan without a job; footer row counts equal the rows read") {
    val out = freshDir("graft_mread_pipe_")
    CorpusMain.run(spark, 600, out, 4)
    Seq("lm_kept", "split", "eval_holdout", "bpe_merges", "vocab", "shards").foreach { n =>
      val sm = new Manifest(s"$out/stages/$n", spark.sessionState.newHadoopConf())
      assertPlansFree(s"$out/stages/$n",
        Seq((s"readStage($n)", () => CorpusMain.readStage(spark, out, n), filesOf(sm, Set(0)))))
      assert(sm.head().get.buckets.map(_.rows).sum == CorpusMain.readStage(spark, out, n).count(), n)
    }

    IncrementalCorpus.bootstrap(spark, out, corpusBuckets = 2)
    assert(IncrementalCorpus.packIncrements(spark, out) > 0L)
    val incr = DocGen.generate(spark, 700, 4).where($"doc_id" >= "d0000000600").as[RawDoc]
    IncrementalCorpus.admitIncrement(spark, incr, out, 1L)
    val tdir = IncrementalCorpus.trainTableDir(out)
    val tm = new Manifest(tdir, spark.sessionState.newHadoopConf())
    val from = tm.head().get.id
    val packed = IncrementalCorpus.packIncrements(spark, out)
    val adm = streaming.EventStream.readAdmissionMetrics(
      spark, IncrementalCorpus.corpusTableDir(out), 2).where($"batch_id" === 1L)
      .select($"admitted").as[Long].collect()
    assert(adm.toSeq == Seq(packed))

    val seqB = IncrementalCorpus.SequencesBucket
    assertPlansFree(tdir, Seq(
      ("readTrain(shards)", () => IncrementalCorpus.readTrain(spark, out, IncrementalCorpus.ShardsBucket),
        filesOf(tm, Set(IncrementalCorpus.ShardsBucket))),
      ("readTrain(oov)", () => IncrementalCorpus.readTrain(spark, out, IncrementalCorpus.OovBucket),
        filesOf(tm, Set(IncrementalCorpus.OovBucket))),
      ("readAppended(sequences)", () => tm.readAppended(spark, from, buckets = Some(Set(seqB))),
        filesOf(tm, Set(seqB)).filterNot(tm.snapshotById(from).buckets.flatMap(_.files).toSet))))
    // a loader read of the window returns the window's committed sequences
    def seqRows(s: Manifest.Snapshot) = s.buckets.find(_.bucket == seqB).map(_.rows).getOrElse(0L)
    val windowSeqs = seqRows(tm.head().get) - seqRows(tm.snapshotById(from))
    assert(windowSeqs > 0L)
    assert(tm.readAppended(spark, from, buckets = Some(Set(seqB))).count() == windowSeqs)
    Seq(IncrementalCorpus.ShardsBucket, seqB, IncrementalCorpus.OovBucket).foreach { b =>
      assert(IncrementalCorpus.readTrain(spark, out, b).count() ==
        tm.head().get.buckets.find(_.bucket == b).get.rows, s"bucket $b")
    }
  }
}
