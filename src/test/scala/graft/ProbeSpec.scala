package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.Probe` scenario but the multi-session `extract` core sweep,
  * at toy size on the shared session: each prints the JSON keys its
  * measurements are read by, runs its own correctness checks, and leaves
  * no scratch directory behind. */
class ProbeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def run(f: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(f)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  /** metric → key set of every JSON line printed. */
  private def jsonKeys(lines: Seq[String]): Map[String, Set[String]] = {
    val mapper = new ObjectMapper()
    lines.filter(_.startsWith("{")).map { l =>
      val node = mapper.readTree(l)
      node.get("metric").asText() -> node.fieldNames().asScala.toSet
    }.toMap
  }

  private def keys(s: String): Set[String] = s.split(",").map(_.trim).toSet

  private def json(lines: Seq[String], metric: String) =
    new ObjectMapper().readTree(lines.find(_.contains(s""""metric":"$metric"""")).get)

  private val scratchPrefixes = Seq("annbench_ivf", "del_bench_", "incr_", "incrpipe_", "graft_vixbench_")
  private def scratchDirs(): Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list()
      .filter(n => scratchPrefixes.exists(n.startsWith)).toSet

  // key lists as each scenario's stand-alone bench printed them
  private val expected = Map(
    "ann_recall" -> keys("metric,n,dims,probes,k,brute_sec,lsh_recall,lsh_sec,ivf_recall," +
      "ivf_sec,ivfx_recall,ivfx_build_sec,ivfx_probe_sec,ivfx_cells_scanned,ivfx_cells_total," +
      "pq_recall,pq_sec,pq_rerank_recall,ivfpq_recall,ivfpq_sec,ivfpq_rerank_recall," +
      "pq_bytes_per_vec,raw_bytes_per_vec"),
    "cleaning_scale" -> keys("metric,n_docs,bench_docs,prune_kept_lines,prune_sec," +
      "contaminated,decon_sec,shards,mix_pack_sec,substr_removed_tokens,substr_sec," +
      "lm_score_sum,lm_sec,sb_score_sum,sb_sec,c4_kept,c4_sec,nb_preds,nb_sec," +
      "dsir_selected,dsir_sec,norm_kept,norm_sec,dom_kept_lines,dom_sec," +
      "sem_contaminated,sem_sec,docline_kept,docline_sec,bin_pairs,bin_sec"),
    "lsh_hot_bucket_guard" -> keys("metric,n_distinct,cluster,guarded_pairs,guarded_sec," +
      "unguarded_pairs,unguarded_sec,exact_dedup_kept,exact_dedup_sec"),
    "delete_cow" -> keys("metric,corpus,keys,files_total,files_hit_buckets," +
      "files_rewritten,sec_median"),
    "gen_throughput" -> keys("metric,n_docs,best_sec,docs_per_sec"),
    "incremental_dedup" -> keys("metric,corpus,delta,admitted,sec,delta_docs_per_sec"),
    "incremental_dedup_indexed" -> keys("metric,corpus,delta,admitted,build_index_sec," +
      "sec,delta_docs_per_sec"),
    "incremental_dedup_pruned" -> keys("metric,corpus,buckets,delta,admitted," +
      "corpus_scan_bytes_unpruned,corpus_scan_bytes_pruned,sec_unpruned,sec_pruned"),
    "incr_pipeline_round" -> keys("metric,round,inc_docs,packed,corpus_rows,sec"),
    "incr_pipeline" -> keys("metric,base,inc,rounds,first_sec,last_sec,last_over_first"),
    "resolve_clusters" -> keys("metric,edges,nodes,clusters,chain_len,long_chain,star,sec"),
    "vix_ingest" -> keys("metric,n_batches,batch_rows,dims,n_cells,total_rows," +
      "total_files,batch1_sec,batch2_sec,n_probe,probe_files_scanned,probe_sec," +
      "compact_sec,files_after_compact,probe_files_scanned_compacted,probe_sec_compacted"),
    "query_bench" -> keys("metric,rounds,cpus,sf,q_agg_rollup"))

  test("every scenario prints its bench's JSON keys and leaves no scratch directory") {
    val before = scratchDirs()
    def scenario(name: String, args: String*) = name -> run(
      if (name == "queries") Probe.queries(spark, sf, args)
      else Probe.scenarios(name)(spark, args))
    val out = Map(
      scenario("ann", "500", "2"),
      scenario("clean", "1000", "20"),
      scenario("dedup", "1000", "50"),
      scenario("delete", "500", "1000", "2"),
      scenario("gen", "200", "1", "--extract"),
      scenario("incr", "2000", "200"),
      scenario("incr_pipe", "2000", "100", "1"),
      scenario("resolve", "100", "5", "50"),
      scenario("vix", "3", "500", "8", "4"),
      scenario("queries", "rounds", "1", "q_agg_rollup"))
    val seen = out.values.map(jsonKeys).reduce(_ ++ _)
    assert(seen.keySet == expected.keySet)
    expected.foreach { case (metric, ks) => assert(seen(metric) == ks, metric) }
    // one line per table width, per increment round
    assert(out("delete").count(_.contains("\"delete_cow\"")) == 2)
    assert(out("incr_pipe").count(_.contains("\"incr_pipeline_round\"")) == 1)
    // the index path admits what the corpus path does (the pruned path's
    // equality is required inside the scenario), and the drained
    // listener saw the corpus scans both resolutions measure
    val pruned = json(out("incr"), "incremental_dedup_pruned")
    assert(json(out("incr"), "incremental_dedup_indexed").get("admitted") ==
      json(out("incr"), "incremental_dedup").get("admitted"))
    assert(pruned.get("corpus_scan_bytes_unpruned").asLong() > 0)
    assert(pruned.get("corpus_scan_bytes_pruned").asLong() > 0)
    assert(json(out("resolve"), "resolve_clusters").get("clusters").asLong() == 102)
    assert(scratchDirs() == before)
  }

  test("scenario input checks reject what their measurement cannot use") {
    // one batch has no post-bootstrap batch to compare with the last
    val e = intercept[IllegalArgumentException](Probe.vix(spark, Seq("1")))
    assert(e.getMessage.contains(">= 2 batches"))
    // length-1 chains have no edges: the planted cluster count is missed,
    // and the resolve check must say so
    val r = intercept[RuntimeException](run(Probe.resolve(spark, Seq("10", "1", "50"))))
    assert(r.getMessage.contains("resolve wrong"))
  }

  test("scratch directories are removed when the scenario body throws") {
    var dir = ""
    intercept[IllegalStateException](Probe.scratch("probe_spec_") { d =>
      dir = d; Files.writeString(new File(d, "f").toPath, "x"); throw new IllegalStateException()
    })
    assert(dir.nonEmpty && !new File(dir).exists())
  }

  test("scale prints a run line per mode; queries count, trace and plans report each query") {
    Probe.scratch("probe_scale_") { input =>
      DocGen.generate(spark, 200, 4).toDF().write.mode("overwrite")
        .partitionBy("bucket").parquet(input)
      for (mode <- Seq("sql", "expr"))
        assert(run(Probe.scale(spark, Seq(input, mode, "2")))
          .count(_.startsWith(s"[probe] mode=$mode cores=4 run")) == 2)
    }
    val counts = run(Probe.queries(spark, sf, Seq("count", "q_agg_rollup")))
    assert(counts.head.startsWith("query") && counts.head.endsWith("(count)"))
    assert(counts.exists(_.startsWith("q_agg_rollup ")))
    val trace = run(Probe.queries(spark, sf, Seq("trace", "q_agg_rollup")))
    assert(trace.head == "=== q_agg_rollup ===" && trace.last.startsWith("WALL "))
    assert(trace.exists(_.startsWith("JOB ")))
    Probe.scratch("probe_plans_") { plansDir =>
      assert(run(Probe.queries(spark, sf, Seq("plans", plansDir, "after", "q_agg_rollup")))
        == Seq("dumped q_agg_rollup"))
      assert(Files.readString(new File(plansDir, "q_agg_rollup_after.txt").toPath)
        .contains("== Physical Plan =="))
    }
  }

  test("queries counts equal a listener drained by the test itself") {
    val jobs, stages, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      // slow on purpose: events reach Probe's listener, registered after
      // this one on the same bus queue, well after the query returns, so
      // only a drain gets them all
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        Thread.sleep(20); tasks.incrementAndGet()
      }
    }
    GraftBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val (_, c) = try {
      val r = Probe.query(spark, sf, "q_ngram_jaccard", noop = false)
      GraftBus.drain(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(c.jobs > 0)
    assert((c.jobs, c.stages, c.tasks) == ((jobs.get, stages.get, tasks.get)))
    assert(c.trace.size == c.jobs)
  }
}
