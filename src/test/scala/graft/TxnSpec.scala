package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every writer commits through one [[Manifest.Txn]], so every committed
  * bucket obeys the same two invariants, whichever writer last touched
  * it: its row count is the sum of its files' footer row counts, and when
  * its files carry `doc_id` every non-empty file has a zone map (an empty
  * file has no id range; it is always planned). A Txn commits only over
  * the parent it was opened on, and an operation resolves HEAD once
  * (plus its commit check), counted through [[CountingFs]]. Toy sizes. */
class TxnSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._
  private val conf = spark.sessionState.newHadoopConf()

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def footerRows(file: String): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    try r.getRecordCount finally r.close()
  }

  /** Both invariants over HEAD at `dir`, which `writer` must have moved
    * past snapshot `since`. Returns HEAD. */
  private def assertInvariants(dir: String, writer: String, since: Int): Manifest.Snapshot = {
    val snap = new Manifest(dir, conf).head().get
    assert(snap.id > since, s"$writer committed nothing")
    snap.buckets.foreach { b =>
      assert(b.rows == b.files.map(footerRows).sum, s"$writer: rows of bucket ${b.bucket}")
      if (b.files.exists(f => Manifest.footerSchema(spark, Seq(f)).fieldNames.contains("doc_id")))
        assert(b.stats.map(_.file).toSet == b.files.filter(footerRows(_) > 0).toSet,
          s"$writer: zone maps of bucket ${b.bucket}")
    }
    snap
  }

  private def texts(from: Int, until: Int) = (from until until).map(i =>
    (f"c$i%04d", s"dom${i % 3}", s"doc $i words about topic ${i % 7} and more words here ${i * 3}"))
    .toDF("doc_id", "domain", "text")

  test("extract run, backfill, compact and deleteByKey commit footer-true rows and full zone maps") {
    val dir = freshDir("graft_txn_extract_")
    val docs = DocGen.generate(spark, 400, 8)
    ExtractJob.run(spark, docs, dir, "run", resume = false, numPartitions = 16)
    var s = assertInvariants(dir, "run", -1).id
    ExtractJob.backfill(spark, docs, dir, "bf",
      newRules = Registry.rules.filterNot(_.name == "albumhost"))
    s = assertInvariants(dir, "backfill", s).id
    ExtractJob.compact(spark, dir)
    s = assertInvariants(dir, "compact", s).id
    ExtractJob.deleteByKey(spark, dir, Seq("d0000000007", "d0000000123").toDF("doc_id"), "doc_id")
    assertInvariants(dir, "deleteByKey", s)
  }

  test("stream micro-batches commit footer-true rows and full zone maps") {
    val dir = freshDir("graft_txn_stream_")
    val batch = ExtractJob.transform(DocGen.generate(spark, 200, 4)).toDF()
    streaming.EventStream.commitBatch(batch.where($"doc_id" < "d0000000100"), 0L, dir, "s")
    val s = assertInvariants(dir, "commitBatch", -1).id
    streaming.EventStream.commitBatch(batch.where($"doc_id" >= "d0000000100"), 1L, dir, "s")
    assertInvariants(dir, "commitBatch", s)
  }

  test("indexed admission, deleteDocs and reshard commit footer-true rows and full zone maps") {
    val dir = freshDir("graft_txn_admit_")
    val docs = texts(0, 60).drop("domain")
    def admit(df: org.apache.spark.sql.DataFrame, batchId: Long) =
      streaming.EventStream.admitIndexedBatch(df, batchId, dir, "s", "doc_id", "text",
        0.8, 3, 4, corpusBuckets = 2, heatCol = Some("doc_id"))
    admit(docs.where($"doc_id" < "c0030"), 0L)
    var s = assertInvariants(dir, "admitIndexedBatch", -1).id
    admit(docs.where($"doc_id" >= "c0030"), 1L)
    s = assertInvariants(dir, "admitIndexedBatch", s).id
    streaming.EventStream.deleteDocs(spark, dir, Seq("c0004", "c0041").toDF("doc_id"),
      corpusBuckets = 2)
    s = assertInvariants(dir, "deleteDocs", s).id
    streaming.EventStream.reshardCorpus(spark, dir, to = 3, from = 2)
    assertInvariants(dir, "reshardCorpus", s)
  }

  test("a vector-index batch commits footer-true rows and full zone maps") {
    val dir = freshDir("graft_txn_vix_")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where($"vec_id" < 80)
      .select(format_string("v%04d", $"vec_id").as("doc_id"), $"embedding")
    streaming.VectorIndexStream.indexBatch(emb, 0L, dir, "s", "doc_id", "embedding",
      nCells = 4, lloydIters = 1)
    assertInvariants(dir, "VectorIndexStream", -1)
  }

  test("stage store stages and a pack window commit footer-true rows and full zone maps") {
    val out = Files.createTempDirectory("graft_txn_pack_").toString
    val corpus = texts(0, 40)
    val store = new CorpusMain.StageStore(spark, s"$out/stages")
    val merges = ops.Bpe.learnMerges(corpus, "text", nMerges = 8)
    store("bpe_merges") {
      merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }.toDF("rank", "l", "r")
    }
    store("vocab") { ops.Bpe.buildVocab(corpus, "text", merges) }
    store("texts") { corpus }
    // an empty stage still commits one schema-carrying file
    store("empty") { corpus.where(lit(false)) }
    for (name <- Seq("bpe_merges", "vocab", "texts", "empty"))
      assertInvariants(s"$out/stages/$name", s"StageStore($name)", -1)
    assert(store.rowsOf("texts") == 40L && store.rowsOf("empty") == 0L)
    assert(CorpusMain.readStage(spark, out, "empty").columns.toSeq == corpus.columns.toSeq)

    streaming.EventStream.admitIndexedBatch(corpus, 0L, IncrementalCorpus.corpusTableDir(out),
      IncrementalCorpus.StreamId, "doc_id", "text", 0.8, 8, 4, corpusBuckets = 2)
    assert(IncrementalCorpus.packIncrements(spark, out) > 0L)
    assertInvariants(IncrementalCorpus.trainTableDir(out), "packIncrements", -1)
  }

  test("a writer that throws before its commit leaves HEAD unchanged and its files as orphans") {
    val dir = freshDir("graft_txn_abort_")
    ExtractJob.run(spark, DocGen.generate(spark, 100, 2), dir, "base", resume = false)
    val m = new Manifest(dir, conf)
    val head0 = m.head().get
    val tx = m.txn(spark, Some(head0), Seq(0))
    intercept[IllegalStateException] {
      ExtractJob.transform(DocGen.generate(spark, 200, 2)).toDF().where($"bucket" === 0)
        .write.mode("append").partitionBy("bucket").parquet(s"$dir/data")
      tx.append(0, "")
      throw new IllegalStateException("writer crashed before its commit")
    }
    assert(m.head().get == head0)
    val crashed = tx.fresh(0)
    assert(crashed.nonEmpty && m.orphanFiles() == crashed)

    // a later Txn over the same bucket never adopts files written before it opened
    val retry = m.txn(spark, m.head(), Seq(0))
    retry.append(0, "")
    assert(retry.commit("retry").buckets == head0.buckets)
    assert(m.removeOrphans() == crashed)
    assert(m.orphanFiles().isEmpty)
  }

  test("two Txns opened on one parent: the first commits, the second fails naming both snapshots") {
    val dir = freshDir("graft_txn_race_")
    ExtractJob.run(spark, DocGen.generate(spark, 100, 2), dir, "base", resume = false)
    val m = new Manifest(dir, conf)
    val parent = m.head()
    val (first, second) = (m.txn(spark, parent, Seq(0)), m.txn(spark, parent, Seq(0)))
    def write(n: Int): Unit = ExtractJob.transform(DocGen.generate(spark, n, 2)).toDF()
      .where($"bucket" === 0).write.mode("append").partitionBy("bucket").parquet(s"$dir/data")
    write(200)
    first.append(0, "")
    val committed = first.commit("first")
    write(300)
    second.append(0, "")
    val e = intercept[IllegalStateException](second.commit("second"))
    assert(e.getMessage.contains(dir) && e.getMessage.contains(s"snapshot ${parent.get.id}") &&
      e.getMessage.contains(s"snapshot ${committed.id}"), e.getMessage)
    assert(m.head().get == committed)
    assert(m.readData(spark).count() == committed.buckets.map(_.rows).sum)
    assert(committed.buckets.find(_.bucket == 0).get.rows >
      parent.get.buckets.find(_.bucket == 0).get.rows)
  }

  test("a crashed commit's leftover snap-(n+1).json with HEAD at n does not block the rerun") {
    val dir = freshDir("graft_txn_leftover_")
    val m = new Manifest(dir, conf)
    m.commit("a", Seq(Manifest.BucketState(0, 1, "d1")))
    Files.writeString(java.nio.file.Path.of(dir, "meta", "snap-1.json"), "{\"id\":1,") // torn write
    assert(m.head().map(_.id).contains(0))
    val rerun = m.commit("b", Seq(Manifest.BucketState(1, 2, "d2")))
    assert(rerun.id == 1 && m.head().get == rerun)
    assert(rerun.buckets.map(_.bucket) == Seq(0, 1))
  }

  test("an operation opens meta/HEAD once, plus once for its commit check") {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[CountingFs].getName)
    val root = "countfs://" + Files.createTempDirectory("graft_heads_").toString
    def opens(dir: String)(op: => Any): Int = {
      val before = CountingFs.headOpens(dir)
      op
      CountingFs.headOpens(dir) - before
    }

    // runGated resuming a run that committed half of the buckets
    val ext = s"$root/extract"
    new Manifest(ext, spark.sessionState.newHadoopConf())
      .commit("half", (0 until 8).map(Manifest.BucketState(_, 0L, "")))
    assert(opens(ext)(ExtractJob.run(spark, DocGen.generate(spark, 200, 2), ext, "rest")) == 2)

    // admitIndexedBatch and a namespace reader over its table
    val out = s"$root/inc"
    val corpus = IncrementalCorpus.corpusTableDir(out)
    def admit(df: org.apache.spark.sql.DataFrame, batchId: Long) =
      streaming.EventStream.admitIndexedBatch(df, batchId, corpus,
        IncrementalCorpus.StreamId, "doc_id", "text", 0.8, 8, 4, corpusBuckets = 2)
    admit(texts(0, 30), 0L)
    assert(opens(corpus)(admit(texts(30, 60), 1L)) == 2)
    assert(opens(corpus)(streaming.EventStream.readCorpus(spark, corpus, 2)) == 1)

    // admitIncrement over the same corpus (its holdout gate reads a stage)
    val stages = new CorpusMain.StageStore(spark, s"$out/stages")
    stages("eval_holdout") { texts(900, 905) }
    assert(opens(corpus)(IncrementalCorpus.admitIncrement(spark,
      DocGen.generate(spark, 40, 2).as[RawDoc], out, 2L)) == 2)
    assert(streaming.EventStream.readAdmissionMetrics(spark, corpus, 2).count() == 3)
  }
}

/** The local filesystem under the `countfs` scheme, counting every open of
  * a file named HEAD by its path: the number of times a manifest resolved
  * a table's HEAD. */
final class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (f.getName == "HEAD") CountingFs.opened(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingFs {
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private def opened(path: String): Unit = counts.merge(path, 1, _ + _)
  /** Opens of `tableDir`'s meta/HEAD so far. */
  def headOpens(tableDir: String): Int =
    counts.getOrDefault(new Path(tableDir, "meta/HEAD").toUri.getPath, 0)
}
