package graft.perfbench

import graft._
import graft.streaming.EventStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Workload `daily_increment`: the daily path that runs after the batch
  * corpus build.
  *
  * The base is what `CorpusMain.run` builds from `BaseDocs` documents
  * (22 committed stages), followed by `IncrementalCorpus.bootstrap` and
  * a first `packIncrements`. It is built once per checkout and compiled
  * engine ([[Base]]) and copied into each run. The base build is traced:
  * its `corpus.*` layer metrics are reported by every traced run.
  *
  * Each timed increment is `IncrementalCorpus.admitIncrement` +
  * `packIncrements` of `IncDocs` documents, followed by `Reads` loader
  * reads of the freshly packed window (`Manifest.readAppended` on the
  * train table's sequences bucket). Increments repeat until `--seconds`
  * have passed; at least one runs. No warm-up increment precedes them:
  * a daily increment is a job launched on its own, so its first
  * increment runs in a fresh JVM, as measured here.
  *
  * The seed picks each increment's fresh doc-index window and its
  * re-crawl sources: ~70 % fresh documents, ~15 % exact re-crawls (base
  * documents under new ids) and ~15 % near-duplicate re-crawls (one word
  * appended), so both the exact and the LSH admission passes do real
  * work. The base does not depend on the seed: `CorpusMain.run` generates
  * its own documents from `nDocs`, which the seed could only perturb. */
object DailyIncrement {
  val BaseDocs = 1000L
  val IncDocs = 250
  val Reads = 20

  /** The 22 stages of `CorpusMain.run`, in pipeline order. */
  val Stages: Seq[String] = Seq("extracted", "texts", "pairs", "host_edges",
    "host_rank", "cleaned", "lang_en", "exact", "deduped", "substr",
    "lm_model", "lm_kept", "split_pairs", "split", "eval_holdout",
    "bpe_merges", "domain_cfg", "mixed", "shards", "vocab", "sequences",
    "profile")

  /** Source files whose call sites the admission jobs are keyed by; jobs
    * issued from any other file count under `other`. */
  val AdmitSites: Seq[String] = Seq("EventStream", "dedup", "IncrementalCorpus", "manifest")

  final case class Increment(docs: Seq[RawDoc], exactIds: Map[String, String])

  /** Increment `b`: fresh documents from a seeded window far beyond the
    * base, plus exact and near-duplicate re-crawls of base documents.
    * `exactIds` maps each exact re-crawl's id to its source's id. */
  def increment(seed: Long, b: Int): Increment = {
    val rnd = new Random(seed * 7919L + b)
    val window = 2000000000L + Math.floorMod(seed, 1000L) * 1000000L + b * 10000L
    def source() = DocGen.docFor(rnd.nextInt(BaseDocs.toInt).toLong)
    val exact = Map.newBuilder[String, String]
    val docs = (0 until IncDocs).map { i =>
      val id = DocGen.docId(window + i)
      val doc = rnd.nextInt(20) match {
        case 0 | 1 | 2 => // exact re-crawl
          val src = source()
          exact += id -> src.doc_id
          src
        case 3 | 4 | 5 => // near-duplicate re-crawl: one word appended to a text span
          val src = Iterator.continually(source()).find(_.spans.exists(_.kind == "text")).get
          val at = src.spans.indexWhere(_.kind == "text")
          src.copy(spans = src.spans.updated(at,
            src.spans(at).copy(text = src.spans(at).text + " lineage")))
        case _ => DocGen.docFor(window + i)
      }
      doc.copy(doc_id = id, bucket = DocGen.bucketOf(id))
    }
    Increment(docs, exact.result())
  }

  /** Order-independent digest of a stage: the sum of every row's xxhash64. */
  def stageHash(df: DataFrame): String =
    df.select(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast("decimal(38,0)"))).head().get(0).toString

  /** Builds the base into `out`. */
  def buildBase(ctx: Ctx, out: String): Unit = {
    ctx.op("corpus.run") { CorpusMain.run(ctx.spark, BaseDocs, out, ctx.cpus * 2) }
    ctx.op("corpus.bootstrap") { IncrementalCorpus.bootstrap(ctx.spark, out) }
    ctx.op("pack.base") { IncrementalCorpus.packIncrements(ctx.spark, out) }
  }

  /** Checks the base's corpus-build outputs: committed stage row counts
    * and the digests of `sequences` and `eval_holdout` equal the values
    * recorded in goldens.json, and no holdout id reached the shards. */
  private def checkBase(ctx: Ctx, out: String): Unit = {
    val spark = ctx.spark
    val conf = spark.sessionState.newHadoopConf()
    val holdout = CorpusMain.readStage(spark, out, "eval_holdout")
    val golden = Map(
      "stages" -> Stages.map(s =>
        s"$s=${new Manifest(s"$out/stages/$s", conf).head().get.buckets.map(_.rows).sum}")
        .mkString(","),
      "sequences" -> stageHash(CorpusMain.readStage(spark, out, "sequences")),
      "eval_holdout" -> stageHash(holdout))
    ctx.notes("golden") = s"$BaseDocs ${Json.write(ListMap(golden.toSeq.sortBy(_._1): _*))}"
    ctx.check("corpus: stage counts and stage digests equal the recorded values") {
      Goldens.corpus(BaseDocs).contains(golden)
    }
    ctx.check("corpus: no holdout id appears in shards") {
      CorpusMain.readStage(spark, out, "shards")
        .join(holdout.select(col("doc_id")), Seq("doc_id"), "left_semi").isEmpty
    }
  }

  /** Admits and packs increment `b`, then reads the packed window and
    * checks the outputs. */
  private def runIncrement(ctx: Ctx, out: String, b: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val corpusDir = IncrementalCorpus.corpusTableDir(out)
    val cm = new Manifest(corpusDir, conf)
    val tm = new Manifest(IncrementalCorpus.trainTableDir(out), conf)
    val layout = cm.head().get.streamWatermarks(EventStream.LayoutKey).toInt

    val inc = increment(ctx.seed, b)
    val raw: Dataset[RawDoc] = spark.createDataset(inc.docs).repartition(ctx.cpus)
    ctx.op("streaming.admit") { IncrementalCorpus.admitIncrement(spark, raw, out, b.toLong) }
    val packedFrom = tm.head().get.id
    val packed = ctx.op("pack") { IncrementalCorpus.packIncrements(spark, out) }
    ctx.tracer.count("pack", "docs", packed.toDouble)

    val window = tm.head().get
    def seqRows(s: Manifest.Snapshot) = s.buckets
      .find(_.bucket == IncrementalCorpus.SequencesBucket).map(_.rows).getOrElse(0L)
    val windowSeqs = seqRows(window) - seqRows(tm.snapshotById(packedFrom))
    (0 until Reads).foreach { _ =>
      val n = ctx.op("train.read") {
        tm.readAppended(spark, packedFrom, Some(window.id),
          buckets = Some(Set(IncrementalCorpus.SequencesBucket))).collect().length
      }
      ctx.check(s"increment $b: a loader read returns the window's sequences")(n == windowSeqs)
    }

    val adm = EventStream.readAdmissionMetrics(spark, corpusDir, layout)
      .where($"batch_id" === b).collect()
    ctx.check(s"increment $b: packIncrements returns the window's admitted count") {
      adm.length == 1 && adm.head.getAs[Long]("admitted") == packed
    }
    ctx.check(s"increment $b: the stream watermark advances by one") {
      cm.head().get.streamWatermarks(IncrementalCorpus.StreamId) == b
    }
    ctx.check(s"increment $b: no exact re-crawl of a corpus or holdout doc is admitted") {
      val corpus = EventStream.readCorpus(spark, corpusDir, layout).select($"doc_id")
      val holdout = CorpusMain.readStage(spark, out, "eval_holdout").select($"doc_id")
      val known = corpus.union(holdout).as[String]
        .where($"doc_id".isin(inc.exactIds.values.toSeq.distinct: _*)).collect().toSet
      val planted = inc.exactIds.filter { case (_, src) => known(src) }.keys.toSeq
      planted.isEmpty || corpus.where($"doc_id".isin(planted: _*)).isEmpty
    }

    adm.headOption.foreach { a =>
      val input = a.getAs[Long]("input_rows")
      Seq("input_rows", "admitted", "exact_dropped", "near_dropped", "poisoned")
        .foreach(c => ctx.tracer.count("streaming.admit", c, a.getAs[Long](c).toDouble))
      ctx.tracer.count("streaming.admit", "gated_out", (IncDocs - input).toDouble)
      ctx.tracer.count("streaming.admit", "useful_ratio",
        a.getAs[Long]("admitted").toDouble / math.max(1L, input))
    }
    val head = cm.head().get
    val fs = new Path(corpusDir).getFileSystem(conf)
    val files = head.buckets.flatMap(_.files)
    ctx.tracer.span("manifest.corpus",
      "files" -> files.size.toDouble,
      "snap_bytes" -> fs.getFileStatus(new Path(s"$corpusDir/meta/snap-${head.id}.json"))
        .getLen.toDouble,
      "bytes_per_doc" -> files.map(f => fs.getFileStatus(new Path(f)).getLen).sum.toDouble /
        head.buckets.filter(_.bucket < layout).map(_.rows).sum) {}
  }

  def run(ctx: Ctx): Unit = {
    val out = ctx.path("corpus")
    val base = Paths.get(sys.props("perfbench.base"))
    Base.copy(base, Paths.get(out))
    checkBase(ctx, out)
    ctx.setupDone()

    val t0 = System.nanoTime()
    var b = 0
    do {
      b += 1
      runIncrement(ctx, out, b)
    } while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)

    val admits = ctx.timed("streaming.admit").map(_.seconds)
    val packs = ctx.timed("pack").map(_.seconds)
    ctx.e2e("build_docs_per_s") = IncDocs / Main.median(admits)
    ctx.e2e("update_s") = Main.median(admits.zip(packs).map { case (x, y) => x + y })
    ctx.e2e("read_ms_p50") = Main.median(ctx.timed("train.read").map(_.seconds * 1e3))
    ctx.e2e("bytes_per_doc") = Main.median(
      ctx.timed("manifest.corpus").map(_.counters("bytes_per_doc")))
    ctx.notes("sizes") = s"$BaseDocs base docs, $b increment(s) of $IncDocs docs"

    if (ctx.trace) {
      ctx.layers ++= Base.readLayers(base)
      incrementLayers(ctx)
    }
  }

  /** The corpus build's layer metrics, from the base build's spans and jobs:
    * `corpus.run.*`, and `corpus.stage.<stage>.{s,jobs}` with each stage
    * ending at its manifest's commit time. */
  def corpusLayers(ctx: Ctx, out: String): Unit = {
    val build = ctx.tracer.named("corpus.run").head
    val fs = new Path(out).getFileSystem(ctx.spark.sessionState.newHadoopConf())
    ctx.layer("corpus.run", "corpus.run", Seq("s", "jobs", "tasks_per_job", "task_s",
      "driver_gap_s", "shuffle_bytes", "spill_bytes", "pinned_peak_bytes"),
      afterSetup = false)
    val commits = Stages.map(s => s -> fs.getFileStatus(
      new Path(s"$out/stages/$s/meta/snap-0.json")).getModificationTime).sortBy(_._2)
    val jobs = ctx.recorder.get.jobsIn(build.startMs, build.endMs)
    commits.foldLeft(build.startMs) { case (from, (stage, to)) =>
      ctx.layers(s"corpus.stage.$stage.s") = (to - from) / 1e3
      ctx.layers(s"corpus.stage.$stage.jobs") =
        jobs.count(j => j.startMs > from && j.startMs <= to).toDouble
      to
    }
  }

  private def incrementLayers(ctx: Ctx): Unit = {
    val admit = ctx.layer("streaming.admit", "streaming.admit",
      Seq("s", "jobs", "task_s", "driver_gap_s", "shuffle_bytes", "pinned_peak_bytes"),
      Seq("input_rows", "admitted", "exact_dropped", "near_dropped", "poisoned",
        "gated_out", "useful_ratio"))
    val k = math.max(1, ctx.timed("streaming.admit").size).toDouble
    val known = AdmitSites.toSet
    (AdmitSites :+ "other").foreach { f =>
      val hits = admit.bySite.filter { case (site, _) =>
        if (f == "other") !known(site) else site == f }.values
      ctx.layers(s"streaming.admit.site.$f.jobs") = hits.map(_._1).sum / k
      ctx.layers(s"streaming.admit.site.$f.task_s") = hits.map(_._2).sum / k
    }
    ctx.layer("pack", "pack", Seq("s", "jobs", "task_s"), Seq("docs"))
    ctx.layer("manifest.corpus", "manifest.corpus", Nil, Seq("files", "snap_bytes"))
  }
}

/** The daily-increment base, built once per checkout and compiled engine
  * (`graft.perfbench.Base <dir>`; the runner keys `dir` by the source
  * digest and treats it as complete once `dir/DONE` exists) and copied
  * into each run's fresh work directory. */
object Base {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val ctx = Main.withSession("daily_base", s"$dir.work", trace = true) { ctx =>
      DailyIncrement.buildBase(ctx, dir)
      DailyIncrement.corpusLayers(ctx, dir)
    }
    Files.write(Paths.get(dir, "layers.json"), Json.write(ctx.layers).getBytes(StandardCharsets.UTF_8))
    Files.createFile(Paths.get(dir, "DONE"))
  }

  def readLayers(dir: JPath): Map[String, Double] =
    Json.read(dir.resolve("layers.json").toString).properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble()).toMap

  /** Copies a built base to `to`. Manifests record absolute file paths,
    * so every manifest file is rewritten to point into the copy. */
  def copy(from: JPath, to: JPath): Unit = {
    val (src, dst) = (from.toUri.getPath.stripSuffix("/"), to.toUri.getPath.stripSuffix("/"))
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (p.getParent.getFileName.toString == "meta") {
        val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        Files.write(q, s.replace(s"file:$src/", s"file:$dst/").getBytes(StandardCharsets.UTF_8))
      } else Files.copy(p, q)
    }
  }
}
