package graft.perfbench

import graft._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Workload `extract_table`: the extraction job and the table's read and
  * takedown paths.
  *
  * Set-up stages `Docs` DocGen documents as bucket-partitioned parquet and
  * warms the JIT and codegen with one throwaway pass of the same calls on
  * the same input, then `WarmExtracts` passes of the extraction alone into
  * Spark's no-op sink: after one pass the extraction code is still being
  * compiled (the next three jobs ran 3.3, 2.6 and 2.1 s on a 4-core host),
  * and the extra passes flatten that curve for ~2.5 s of set-up. Each
  * timed cycle then runs, into a fresh table:
  *  - `ExtractJob.run(resume = false)` with the library defaults (the
  *    typed path `ExtractMain` runs without `--native`);
  *  - `Lookups` seeded `LookupIds`-id `Manifest.readData(idRange = ...)`
  *    lookups;
  *  - `ExtractJob.deleteByKey` of every 100th id (a takedown).
  * Cycles repeat until `--seconds` have passed and at least `MinCycles`
  * ran. The cycles are still speeding up (JIT), so the run reports the
  * median cycle. `MinCycles` alone outlasts the benchmark's run seconds
  * (a cycle takes ~9 s on a 4-core host), so every run times the same
  * number of cycles and the median is always the same cycle, however
  * fast the host is.
  *
  * The seed picks the doc-index window, the lookup offsets, the delete
  * phase and the oracle sample. */
object ExtractTable {
  val Docs = 20000L
  val MinCycles = 3
  val WarmExtracts = 3
  val Lookups = 10
  val LookupIds = 1000
  val DeleteEvery = 100
  val OracleSample = 1000

  private def stage(ctx: Ctx, lo: Long, n: Long, dir: String): Dataset[RawDoc] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.range(lo, lo + n, 1, ctx.cpus).map(i => DocGen.docFor(i))
      .write.partitionBy("bucket").parquet(dir)
    spark.read.parquet(dir).as[RawDoc]
  }

  private def fileBytes(ctx: Ctx, files: Seq[String]): Long = files.map { f =>
    val p = new Path(f)
    p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
  }.sum

  /** One pass over the documents `[lo, lo + n)`: extract into `tbl`, look
    * up `Lookups` id ranges, delete. Returns the table's bytes per row
    * after the delete. Output checks run only when `checked` (not on the
    * warm-up pass); the oracle comparison runs on the first checked cycle. */
  private def cycle(ctx: Ctx, docs: Dataset[RawDoc], lo: Long, n: Long,
      tbl: String, rnd: Random, checked: Boolean): Double = {
    val spark = ctx.spark
    import spark.implicits._
    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    def headFiles = m.head().toSeq.flatMap(_.buckets.flatMap(_.files))

    val snap = ctx.op("pipeline.run") {
      ExtractJob.run(spark, docs, tbl, s"bench-${ctx.seed}", resume = false)
    }
    ctx.tracer.count("pipeline.run", "files_written", headFiles.size)
    if (checked) ctx.check("extract: committed rows equal the input")(
      snap.buckets.map(_.rows).sum == n)
    if (checked && ctx.timed("pipeline.run").size == 1) {
      val sample = Seq.fill(OracleSample)(lo + (rnd.nextDouble() * n).toLong).distinct
      ctx.check(s"extract: ${sample.size} sampled docs equal the oracle span for span") {
        val got = m.readData(spark)
          .where($"doc_id".isin(sample.map(DocGen.docId): _*))
          .as[ExtractedDoc].collect().map(d => d.doc_id -> d).toMap
        sample.forall { i =>
          val exp = ReferenceOracle.extract(DocGen.docFor(i))
          got.get(exp.doc_id).exists(act =>
            act.extractor == exp.extractor &&
              act.spans.sortBy(_.offset).map(s => (s.kind, s.text, s.media_ref)) ==
                exp.spans.map(s => (s.kind, s.text, s.media_ref)))
        }
      }
    }

    (0 until Lookups).foreach { _ =>
      val first = lo + (rnd.nextDouble() * (n - LookupIds)).toLong
      val (idLo, idHi) = (DocGen.docId(first), DocGen.docId(first + LookupIds - 1))
      val got = ctx.op("manifest.lookup") {
        m.readData(spark, idRange = Some((idLo, idHi)))
          .where($"doc_id".between(idLo, idHi)).select($"doc_id").as[String].collect()
      }
      if (checked) ctx.check(s"lookup [$idLo, $idHi] returns exactly its ids") {
        got.sorted.toSeq == (first until first + LookupIds).map(DocGen.docId)
      }
      if (ctx.trace) {
        // zone-map precision: files planned vs files holding a row in range
        val plan = m.planFiles(m.head().get, idRange = Some((idLo, idHi)))
        ctx.tracer.count("manifest.lookup", "files_planned", plan.size)
        ctx.tracer.count("manifest.lookup", "files_hit",
          m.readFiles(spark, plan).where($"doc_id".between(idLo, idHi))
            .select(input_file_name()).distinct().count().toDouble)
      }
    }

    val phase = (rnd.nextDouble() * DeleteEvery).toLong
    val doomed = spark.range(lo + phase, lo + n, DeleteEvery)
      .map(i => DocGen.docId(i)).toDF("doc_id")
    val nDoomed = (n - phase + DeleteEvery - 1) / DeleteEvery
    val before = headFiles.toSet
    val del = ctx.op("pipeline.forget") {
      ExtractJob.deleteByKey(spark, tbl, doomed, "doc_id")
    }
    val after = headFiles
    ctx.tracer.count("pipeline.forget", "bytes_rewritten",
      fileBytes(ctx, after.filterNot(before)).toDouble)
    val left = del.buckets.map(_.rows).sum
    if (checked) {
      ctx.check("delete: rows equal N minus the deleted keys")(left == n - nDoomed)
      ctx.check("delete: no deleted id is readable") {
        val t = m.readData(spark)
        t.count() == n - nDoomed && t.join(doomed, Seq("doc_id"), "left_semi").isEmpty
      }
    }
    fileBytes(ctx, after).toDouble / left
  }

  def run(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed)
    // seeded doc-index window
    val lo = 1000000L + rnd.nextInt(1000) * 10000000L
    val docs = stage(ctx, lo, Docs, ctx.path("in"))
    cycle(ctx, docs, lo, Docs, ctx.path("warm"), new Random(-ctx.seed), checked = false)
    (1 to WarmExtracts).foreach { _ =>
      ExtractJob.transform(docs).write.format("noop").mode("overwrite").save()
    }
    ctx.setupDone()

    val t0 = System.nanoTime()
    val bytesPerDoc = ArrayBuffer.empty[Double]
    do bytesPerDoc += cycle(ctx, docs, lo, Docs, ctx.path(s"tbl-${bytesPerDoc.size}"),
      rnd, checked = true)
    while (bytesPerDoc.size < MinCycles || (System.nanoTime() - t0) / 1e9 < ctx.seconds)

    ctx.e2e("build_docs_per_s") = Main.median(ctx.timed("pipeline.run").map(Docs / _.seconds))
    ctx.e2e("update_s") = Main.median(ctx.timed("pipeline.forget").map(_.seconds))
    ctx.e2e("read_ms_p50") = Main.median(ctx.timed("manifest.lookup").map(_.seconds * 1e3))
    ctx.e2e("bytes_per_doc") = Main.median(bytesPerDoc.toSeq)
    ctx.notes("sizes") = s"$Docs docs, ${bytesPerDoc.size} cycle(s), " +
      s"${ctx.timed("manifest.lookup").size} lookups"

    if (ctx.trace) {
      // the two extraction engines alone, into Spark's no-op sink
      ctx.tracer.span("classify.extract") {
        ExtractJob.transform(docs).write.format("noop").mode("overwrite").save()
      }
      ctx.tracer.span("plans.extract") {
        plans.GraftFunctions.extractColumnar(docs.toDF())
          .write.format("noop").mode("overwrite").save()
      }
      ctx.layer("classify.extract", "classify.extract", Seq("s"))
      ctx.layer("plans.extract", "plans.extract", Seq("s"))
      ctx.layer("pipeline.run", "pipeline.run",
        Seq("s", "jobs", "tasks", "task_s", "driver_gap_s", "shuffle_bytes"),
        Seq("files_written"))
      ctx.layer("manifest.lookup", "manifest.lookup", Seq("tasks"),
        Seq("files_planned", "files_hit"))
      ctx.layer("pipeline.forget", "pipeline.forget",
        Seq("s", "jobs", "task_s", "shuffle_bytes"), Seq("bytes_rewritten"))
    }
  }
}
