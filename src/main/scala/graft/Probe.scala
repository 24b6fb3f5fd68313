package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale evidence and profiling probes (BENCH/BASELINE.md) — NOT part of
  * the driver bench contract (`Bench`, `Verify`, `SparkEntry`).
  *
  * Usage: graft.Probe <scenario> [args…]; one scenario per measured
  * family, each documented at its method. Every scenario but the
  * `extract` core sweep runs on one `local[SPARK_GRAFT_CPUS]` session
  * (default: the host's core count); `queries` reads its tables from
  * SPARK_GRAFT_SF_DIR (default: the sf0.1 set). Results print as JSON
  * lines.
  */
object Probe {
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def session(cores: Int): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val scenarios: Map[String, (SparkSession, Seq[String]) => Unit] = Map(
    "queries" -> ((s, a) => queries(s,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), a)),
    "gen" -> gen _, "scale" -> scale _, "ann" -> ann _, "clean" -> clean _,
    "dedup" -> dedup _, "delete" -> delete _, "incr" -> incr _,
    "incr_pipe" -> incrPipe _, "resolve" -> resolve _, "vix" -> vix _)

  def main(args: Array[String]): Unit = args.toList match {
    case "extract" :: rest => extract(rest)
    case name :: rest if scenarios.contains(name) =>
      val spark = session(cores)
      try scenarios(name)(spark, rest) finally spark.stop()
    case _ =>
      System.err.println("usage: graft.Probe <extract|" +
        scenarios.keys.toSeq.sorted.mkString("|") + "> [args...]")
      sys.exit(2)
  }

  // ---- shared harness -------------------------------------------------

  def clock[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The first timed result and every timed run's seconds. */
  final case class Timing[A](result: A, secs: Seq[Double]) {
    def median: Double = secs.sorted.apply(secs.length / 2)
  }

  /** Runs bodies `0 until n`: `warm` discarded rounds (JIT, codegen), then
    * `rounds` timed ones. Each round runs every body once, so a CPU-steal
    * episode of a shared host hits all bodies alike; single shots mislead
    * there (BENCH/BASELINE.md method). `run(i)` returns its result and the
    * seconds it counts, so a body can leave its setup untimed. */
  def interleaved[A](warm: Int, rounds: Int, n: Int)(run: Int => (A, Double))
      : IndexedSeq[Timing[A]] = {
    for (_ <- 1 to warm; i <- 0 until n) run(i)
    val rs = (1 to rounds).map(_ => (0 until n).map(run))
    (0 until n).map(i => Timing(rs.head(i)._1, rs.map(_(i)._2)))
  }

  def timed[A](warm: Int, rounds: Int)(body: => A): Timing[A] =
    interleaved(warm, rounds, 1)(_ => clock(body)).head

  /** Spark work seen while one body ran, and each job's call sites. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskSec: Double,
      trace: Seq[String])

  /** Counts the Spark work `body` starts. The listener bus is drained on
    * both sides, so no earlier event leaks in and no late one is missed. */
  def counted[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    val jobs, stages, tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val started = new ConcurrentHashMap[Int, (Long, String)]
    val trace = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        started.put(j.jobId, (j.time, j.stageInfos.map(_.name.take(60)).mkString(" | ")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(started.get(j.jobId)).foreach { case (t0, sites) =>
          trace.add(f"JOB ${j.jobId}%4d ${(j.time - t0) * 1e3}%10.0f us  $sites")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      }
    }
    GraftBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftBus.drain(sc)
      (out, Counts(jobs.get, stages.get, tasks.get, taskMs.get / 1e3, trace.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** A fresh temporary directory for `body`, removed when it returns or throws. */
  def scratch[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  // ---- SparkEntry queries ---------------------------------------------

  /** Profiles SparkEntry queries; each is run through the same `.count()`
    * the frozen Bench times, so the shapes match what the driver measures.
    * Modes:
    *  - `count [q…]` (all queries when none is named): per query wall s,
    *    Spark jobs, stages, tasks and summed task s. High job/stage counts
    *    with low task time mean a scheduling-bound query (too many
    *    sequential actions); high task time means compute-bound stages.
    *  - `noop [q…]`: the same through the no-op sink, which
    *    computes EVERY column of every row and discards it, so the number
    *    excludes any count-side column pruning.
    *  - `rounds <n> [q…]`: the single-shot driver bench on a shared host lies
    *    under CPU-steal episodes, so a suspected regression is confirmed or
    *    cleared here: each query warmed once, then timed round-robin for
    *    `n` rounds; median/min/max print as one JSON line.
    *  - `trace [q…]`: every Spark job's call sites and duration while the
    *    query runs — which operator phase owns the job count.
    *  - `plans <dir> <suffix> [q…]`: writes `.explain("formatted")` of each
    *    query to `<dir>/<query>_<suffix>.txt` instead of timing; the query
    *    function still runs its fixture side effects once.
    */
  def queries(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    // warm-up, as in Bench
    try spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").count().collect()
    catch { case _: Throwable => }
    def sel(named: Seq[String], default: => Seq[String]) = if (named.isEmpty) default else named
    lazy val all = SparkEntry.queries.keys.toSeq.sorted
    args.toList match {
      case (mode @ ("count" | "noop")) :: named =>
        println(f"${"query"}%-24s ${"wall_s"}%8s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"task_s"}%8s" +
          (if (mode == "noop") "  (noop sink)" else "  (count)"))
        sel(named, all).foreach { name =>
          val (wall, c) = query(spark, sfDir, name, mode == "noop")
          println(f"$name%-24s $wall%8.2f ${c.jobs}%6d ${c.stages}%7d ${c.tasks}%7d ${c.taskSec}%8.2f")
        }
      case "rounds" :: n :: named =>
        val names = sel(named, Seq("q_ngram_jaccard", "q_source_jsonl"))
        val fns = names.map(SparkEntry.queries)
        val ts = interleaved(1, n.toInt, fns.size)(i => clock(fns(i)(spark, sfDir).count()))
        val med = names.zip(ts).map { case (q, t) =>
          f""""$q":{"median":${t.median}%.3f,"min":${t.secs.min}%.3f,"max":${t.secs.max}%.3f}"""
        }.mkString(",")
        println(s"""{"metric":"query_bench","rounds":$n,""" +
          s""""cpus":${spark.sparkContext.defaultParallelism},"sf":"$sfDir",$med}""")
      case "trace" :: named =>
        sel(named, Seq("q_reshard_corpus")).foreach { name =>
          println(s"=== $name ===")
          val (wall, c) = query(spark, sfDir, name, noop = false)
          c.trace.foreach(println)
          println(f"WALL $wall%.2f s")
        }
      case "plans" :: dir :: suffix :: named =>
        Files.createDirectories(Paths.get(dir))
        sel(named, all).foreach { name =>
          try {
            val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
              .explainString(org.apache.spark.sql.execution.FormattedMode)
            Files.write(Paths.get(s"$dir/${name}_$suffix.txt"), txt.getBytes("UTF-8"))
            println(s"dumped $name")
          } catch { case e: Throwable => println(s"$name FAILED: $e") }
        }
      case _ => throw new IllegalArgumentException(
        "queries <count|noop|trace|rounds <n>|plans <dir> <suffix>> [q…]")
    }
  }

  /** Wall seconds and Spark work of one query; a failure is printed and
    * its partial work still reported. */
  def query(spark: SparkSession, sfDir: String, name: String, noop: Boolean): (Double, Counts) = {
    val ((_, wall), c) = counted(spark)(clock {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
      } catch { case e: Throwable => println(s"$name FAILED: $e") }
    })
    (wall, c)
  }

  // ---- extraction -----------------------------------------------------

  /** Docs and spans of `df`, optionally run through the `extract_spans`
    * native expression first — the production fast path (no typed object
    * stage; see plans.ExtractExpression). */
  def spanCounts(df: DataFrame, extract: Boolean): (Long, Long) = {
    val ex = if (extract) plans.GraftFunctions.extractColumnar(df) else df
    val r = ex.agg(count("*"), sum(size(col("spans")))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Extraction-throughput benchmark (SURVEY.md §6, §7.3 M5; BASELINE.json
    * metric): docs/sec and spans/sec for the core extract transform,
    * measured at two parallelism levels — local[N] and local[4N] — on
    * IDENTICAL input bytes, reporting scaling efficiency (thr_4N / thr_N) / 4
    * with target ≥0.8. The two "cluster sizes" are two local-mode core
    * counts of one node.
    *
    * Noise handling (the VM of BENCH/BASELINE.md shows 10–20% hypervisor
    * CPU-steal episodes under heavy parallel load, measured via /proc/stat): runs of the two
    * levels are INTERLEAVED (hi, lo, hi, lo, …) so steal episodes hit both
    * levels with equal probability, and the median of the rounds per level
    * is reported. A JVM-wide warm-up (both levels) precedes measurement so
    * JIT state is identical for every timed run; each run gets a fresh
    * session, created and stopped outside its timed region.
    *
    * The timed body is read(bucket-partitioned parquet) → `extract_spans`
    * expression → count+sum agg. There is NO exchange: the input table at
    * rest is already bucket-partitioned (exactly how the production table
    * is laid out), so extraction is embarrassingly parallel — the
    * scale-correct design (reuse the at-rest partitioning; shuffle only
    * when layout does not match).
    *
    * Usage: extract [nDocs] [workDir] [nLo] [nHi] [rounds]
    */
  def extract(args: Seq[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(3000000L)
    val workDir = args.lift(1).getOrElse("/tmp/graft_bench_input")
    val nLo = args.lift(2).map(_.toInt).getOrElse(8)
    val nHi = args.lift(3).map(_.toInt).getOrElse(32)
    val rounds = args.lift(4).map(_.toInt).getOrElse(5)
    val inputDir = s"$workDir/docs_$nDocs"

    // ---- generate input once (identical bytes for both levels), laid out
    // like the production table: partitioned by bucket.
    if (!Files.exists(Paths.get(s"$inputDir/_SUCCESS"))) {
      val s = session(cores)
      try DocGen.generate(s, nDocs, 256).toDF()
        .write.mode("overwrite").partitionBy("bucket").parquet(inputDir)
      finally s.stop()
    }

    // JVM-wide JIT warm-up: both levels twice, discarded
    val levels = Seq(nHi, nLo)
    val ts = interleaved(2, rounds, 2) { i =>
      val s = session(levels(i))
      try clock(spanCounts(s.read.parquet(inputDir), extract = true)) finally s.stop()
    }
    val (hi, lo) = (ts(0), ts(1))
    hi.secs.zip(lo.secs).zipWithIndex.foreach { case ((h, l), i) =>
      System.err.println(f"[bench] round${i + 1}: hi($nHi)=$h%.2f s  lo($nLo)=$l%.2f s")
    }
    val (docsN, spansN) = hi.result
    // Efficiency is computed from per-level MINIMUMS: a shared VM host
    // preempts wide vCPU gangs in episodes (observed 10-20% steal; wide
    // runs can stall 10x), so noise is strictly additive — min estimates
    // the machine's true capability. Medians are reported alongside.
    val (tLo, tHi) = (lo.secs.min, hi.secs.min)
    val thrLo = docsN / tLo; val thrHi = docsN / tHi
    val spLo = spansN / tLo; val spHi = spansN / tHi
    val eff = (thrHi / thrLo) / (nHi.toDouble / nLo)
    println(f"""{"metric":"extract_throughput","n_docs":$docsN,"spans":$spansN,""" +
      f""""cores_lo":$nLo,"cores_hi":$nHi,"sec_lo":$tLo%.2f,"sec_hi":$tHi%.2f,""" +
      f""""sec_lo_median":${lo.median}%.2f,"sec_hi_median":${hi.median}%.2f,""" +
      f""""docs_per_sec_lo":$thrLo%.0f,"docs_per_sec_hi":$thrHi%.0f,""" +
      f""""spans_per_sec_lo":$spLo%.0f,"spans_per_sec_hi":$spHi%.0f,""" +
      f""""scaling_efficiency":$eff%.3f}""")
  }

  /** Corpus-generation throughput: `DocGen.generate` alone (count +
    * span-sum action, no write), or with `--extract` the extract body on
    * top, so end-to-end regressions can be attributed between generation,
    * extraction and I/O. Best of `rounds`.
    *
    * Usage: gen [nDocs] [rounds] [--extract]
    */
  def gen(spark: SparkSession, args: Seq[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val rounds = args.lift(1).map(_.toInt).getOrElse(2)
    val extract = args.lift(2).contains("--extract")
    val t = timed(0, rounds)(spanCounts(DocGen.generate(spark, n).toDF(), extract))
    System.err.println(s"[genbench] extract=$extract secs=${t.secs.mkString(",")}" +
      s" docs=${t.result._1} spans=${t.result._2}")
    println(f"""{"metric":"gen_throughput","n_docs":$n,"best_sec":${t.secs.min}%.1f,"docs_per_sec":${n / t.secs.min}%.0f}""")
  }

  /** Scaling of the extract body vs a pure-Tungsten columnar job (`sql`:
    * parquet scan → explode → hash agg, zero custom code) over the same
    * input — the stock-engine control that locates the scaling limiter.
    * Run it at each core count through SPARK_GRAFT_CPUS.
    *
    * Usage: scale <inputDir> <sql|expr> [runs]
    */
  def scale(spark: SparkSession, args: Seq[String]): Unit = {
    val (inputDir, mode) = (args(0), args(1))
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    import spark.implicits._
    val t = timed(1, runs)(mode match {
      case "sql" =>
        spark.read.parquet(inputDir)
          .select(posexplode($"spans").as(Seq("p", "s")))
          .groupBy($"s.kind").agg(count("*"), sum(length($"s.text")))
          .collect().length.toLong
      case "expr" => spanCounts(spark.read.parquet(inputDir), extract = true)._1
    })
    t.secs.zipWithIndex.foreach { case (s, i) =>
      println(f"[probe] mode=$mode cores=${spark.sparkContext.defaultParallelism} run${i + 1}: $s%.2f s")
    }
  }

  // ---- operator families ----------------------------------------------

  /** ANN-suite quality/scale bench (BENCH/BASELINE.md "ANN paths"):
    * recall@k against exact brute force for the three approximate paths —
    * SRP-LSH (bucket equi-join), IVF (cell equi-join) and PQ/ADC
    * (compressed full scan) — on a deterministic clustered corpus (the
    * regime ANN exists for; uniform random vectors have no neighbor
    * structure worth finding).
    *
    * Vectors are UNIT-NORMALIZED so cosine ranking (brute force / LSH /
    * IVF) and squared-L2 ranking (PQ's ADC) agree and one ground truth
    * serves all paths. Corpus: `id mod nClusters` picks a hash-derived
    * center, plus hash-derived per-id noise — fully deterministic, no RNG
    * state.
    *
    * What scales is reported per path: LSH and IVF cut the CANDIDATE SET
    * (equi-join on bucket/cell instead of all pairs); PQ cuts BYTES AND
    * COST PER CANDIDATE (m byte-codes + m lookups vs dims floats + dims
    * multiply-adds) — at 100 TB the first two bound the join, the third
    * bounds memory for whatever must still be scanned.
    *
    * Usage: ann [nVecs] [nProbes]
    */
  def ann(spark: SparkSession, args: Seq[String]): Unit = scratch("annbench_ivf") { ixDir =>
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val nProbes = args.lift(1).map(_.toInt).getOrElse(16)
    val (dims, k) = (64, 10)
    import spark.implicits._

    // deterministic corpus with REAL neighbor structure: 10-member
    // families (id div 10 shares a hash-derived center; per-member noise is
    // small vs family separation) — the regime ANN is for. A corpus of
    // iid noise has concentrated pair distances (margins ~1/sqrt(dims))
    // and NO findable neighbors: code-only ranking degrades there by
    // information, not by implementation (measured: recall 0.03 for flat
    // AND residual PQ at any code budget, while LSH/IVF survive only
    // because they re-rank their candidate shortlist with exact floats —
    // which is what the rerank stage below adds to the PQ paths).
    val raw = spark.range(n).select($"id".as("vec_id"), expr(
      s"""transform(sequence(0, ${dims - 1}), d ->
         |  (pmod(xxhash64(concat('c', cast(id div 10 as string), ':', d)), 1000) / 1000.0 - 0.5)
         |  + 0.1 * (pmod(xxhash64(concat('n', cast(id as string), ':', d)), 1000) / 1000.0 - 0.5))"""
        .stripMargin).as("v0"))
    val corpus = Pin.now(raw.select($"vec_id", expr(
        s"""transform(v0, x -> x / sqrt(aggregate(v0, 0D, (a, y) -> a + y * y)))""")
      .as("vec"))) // eager: materialized outside timing
    val probes = Pin.now(corpus.where($"vec_id" < nProbes))

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select($"probe_id", $"cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    val (truth, tBrute) = clock {
      pairs(ops.Similarity.bruteForceTopK(corpus, probes, "vec_id", "vec", k))
    }
    def recall(got: Set[(Long, Long)]): Double =
      if (truth.isEmpty) 1.0 else got.intersect(truth).size.toDouble / truth.size

    val (lsh, tLsh) = clock {
      pairs(ops.Similarity.lshTopK(corpus, probes, "vec_id", "vec", k,
        nPlanes = 12, dims = dims, multiprobe = true))
    }
    val (ivf, tIvf) = clock {
      pairs(ops.Similarity.ivfTopK(corpus, probes, "vec_id", "vec", k,
        nCentroids = 64, nProbe = 8, lloydIters = 2))
    }
    // At-rest IVF index (buildIvfIndex → ivfTopKIndexed): training and
    // assignment amortize into a one-time BUILD; the probe batch then
    // reads only its probed cells' partitions (partition-pruned scan).
    // Same geometry as the in-job IVF above, so recall must MATCH it —
    // a determinism check on the persist/reload round trip.
    val (_, tIvfBuild) = clock {
      ops.Similarity.buildIvfIndex(corpus, "vec_id", "vec",
        nCentroids = 64, lloydIters = 2, path = ixDir)
    }
    var ivfxCells = -1
    val (ivfx, tIvfProbe) = clock {
      val q = ops.Similarity.ivfTopKIndexed(spark, ixDir, probes,
        "vec_id", "vec", k, nProbe = 8)
      ivfxCells = q.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.getOrElse("Location", "").contains("annbench_ivf") =>
          f.selectedPartitions.partitionCount
      }.headOption.getOrElse(-1)
      pairs(q)
    }

    var pqR = Set.empty[(Long, Long)]
    val (pq, tPq) = clock {
      val cb = ops.Pq.trainPq(corpus, "vec",
        ops.Pq.seedCodebook(corpus, "vec_id", "vec", m = 8, k = 64), iters = 2)
      val codes = Pin.now(ops.Pq.encode(corpus, "vec_id", "vec", cb))
      val shortlist = Pin.now(ops.Pq.adcTopK(codes, probes, "vec_id", "vec", cb, 100))
      pqR = pairs(ops.Pq.rerankExact(shortlist, corpus, probes, "vec_id", "vec", k))
      pairs(shortlist.where($"rn" <= k))
    }

    var ivfpqR = Set.empty[(Long, Long)]
    val (ivfpq, tIvfPq) = clock {
      val (index, model) = ops.Pq.ivfPqIndex(corpus, "vec_id", "vec",
        nCells = 64, m = 8, k = 64)
      val idx = Pin.now(index)
      val shortlist = Pin.now(
        ops.Pq.ivfPqTopK(idx, model, probes, "vec_id", "vec", 100, nProbe = 8))
      ivfpqR = pairs(ops.Pq.rerankExact(shortlist, corpus, probes, "vec_id", "vec", k))
      pairs(shortlist.where($"rn" <= k))
    }

    println(f"""{"metric":"ann_recall","n":$n,"dims":$dims,"probes":$nProbes,"k":$k,""" +
      f""""brute_sec":$tBrute%.1f,""" +
      f""""lsh_recall":${recall(lsh)}%.3f,"lsh_sec":$tLsh%.1f,""" +
      f""""ivf_recall":${recall(ivf)}%.3f,"ivf_sec":$tIvf%.1f,""" +
      f""""ivfx_recall":${recall(ivfx)}%.3f,"ivfx_build_sec":$tIvfBuild%.1f,""" +
      f""""ivfx_probe_sec":$tIvfProbe%.1f,"ivfx_cells_scanned":$ivfxCells,"ivfx_cells_total":64,""" +
      f""""pq_recall":${recall(pq)}%.3f,"pq_sec":$tPq%.1f,""" +
      f""""pq_rerank_recall":${recall(pqR)}%.3f,""" +
      f""""ivfpq_recall":${recall(ivfpq)}%.3f,"ivfpq_sec":$tIvfPq%.1f,""" +
      f""""ivfpq_rerank_recall":${recall(ivfpqR)}%.3f,""" +
      f""""pq_bytes_per_vec":8,"raw_bytes_per_vec":${dims * 4}}""")
  }

  /** Corpus-cleaning scale evidence (BENCH/BASELINE.md "cleaning at
    * scale"): the three shapes that decide whether the cleaning stages
    * survive a web-crawl corpus —
    *
    *  1. repeated-line pruning with a SITE-WIDE boilerplate line: the hot
    *     line appears in 30% of all documents. The partial-agg count
    *     collapses it to one row map-side and the anti-join broadcasts the
    *     hot set, so cost stays linear in corpus size (no straggler task
    *     owning millions of identical join keys);
    *  2. benchmark decontamination of the full corpus against a benchmark
    *     set: the benchmark shingle set broadcasts, the corpus is one
    *     narrow map-side pass + a partial-agg hit count;
    *  3. mixture sampling + shard packing: pure map-side filter plus one
    *     window per source stratum.
    *
    * Every stage is timed as one warm-up + median of 3.
    *
    * Usage: clean [nDocs] [benchDocs]
    */
  def clean(spark: SparkSession, args: Seq[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(2000000)
    val benchDocs = args.lift(1).map(_.toInt).getOrElse(2000)
    import spark.implicits._

    val boiler = ops.Cleaning.BoilerLine
    // ~14-22-word docs; 30% carry the boilerplate line first, all share a
    // static 6-word tail line (a SECOND site-wide hot line), 0.1% carry
    // the benchmark probe 5-gram
    val docs = spark.range(nDocs).select($"id".as("doc_id"),
      concat(
        when($"id" % 10 < 3, lit(s"$boiler ")).otherwise(lit("")),
        lit("alpha "), $"id", lit(" beta "), $"id",
        lit(" gamma delta epsilon zeta eta theta iota kappa lambda mu"),
        when($"id" % 1000 === 0, lit(" bq1 bq2 bq3 bq4 bq5")).otherwise(lit("")))
        .as("text"),
      concat(lit("src"), ($"id" % 8).cast("string")).as("source"))
      .cache()
    docs.count() // materialize outside timed regions

    // 1. hot-line pruning: ~0.3·nDocs copies of one line through the
    //    count agg + broadcast anti-join
    val prune = timed(1, 3) {
      ops.Cleaning.pruneRepeatedLines(docs, "doc_id", "text", 8, 5)
        .agg(sum($"n_kept")).head().getLong(0)
    }

    // 2. decontamination: benchmark = `benchDocs` synthetic eval docs; the
    //    shared [bq1..bq5] shingle marks 0.1% of the corpus contaminated
    val bench = spark.range(benchDocs).select(
      concat(lit("bq1 bq2 bq3 bq4 bq5 extra "), $"id").as("text"))
    val decon = timed(1, 3) {
      ops.Cleaning.decontaminate(docs, bench, "doc_id", "text", 5)
        .where($"keep" === 0).count()
    }

    // 3. mixture + packing over the full corpus
    val mix = timed(1, 3) {
      val mixed = ops.Sampling.mixtureSample(docs, "doc_id", "source",
        Map("src0" -> 2500, "src1" -> 5000), 10000)
      ops.Sampling.packShards(mixed, "doc_id", "source",
          size(split($"text", " ")).cast("bigint"), budget = 4096)
        .agg(countDistinct($"source", $"shard")).head().getLong(0)
    }

    // 4. exact substring scrub (Lee et al., k=12): 20% of docs embed one
    //    of 200 shared 16-word boilerplate runs (each run recurs in
    //    nDocs/1000 documents — a HOT duplicated substring whose gram
    //    hashes collapse in the partial agg), every doc keeps a unique
    //    12-word body. Correct outcome: each run survives only in its
    //    globally-first doc — removed mass ≈ 16 · (0.2·nDocs − 200).
    // run index = (id/5) % 200: only ids divisible by 5 embed a run, so
    // keying on id % 200 would visit just the 40 multiples of 5 — (id/5)
    // walks all 200 run identities at the documented n/1000 recurrence
    val runTail = concat_ws(" ",
      (0 until 16).map(j => concat(lit("r"), (($"id" / 5) % 200).cast("long"), lit(s"w$j"))): _*)
    val body = concat_ws(" ",
      (0 until 12).map(j => concat(lit("u"), $"id", lit(s"b$j"))): _*)
    val sdocs = spark.range(nDocs).select($"id".as("doc_id"),
        when($"id" % 5 === 0, concat(body, lit(" "), runTail))
          .otherwise(body).as("text"))
      .cache()
    sdocs.count()
    val substr = timed(1, 3) {
      ops.Dedup.exactSubstringDedup(sdocs, "doc_id", "text", k = 12)
        .agg(sum($"n_removed".cast("bigint"))).head().getLong(0)
    }

    // the 1% hash-sample the trained gates (stages 5, 6, 8, 9) learn from
    val sample = docs.where(ops.Sampling.hashBp($"doc_id".cast("string")) < 100)

    // 5. CCNet LM gate: train the bigram model on a 1% hash-sample
    //    (unique id-words make most sampled bigrams singletons — a
    //    realistically heavy model, broadcast), then score the FULL
    //    corpus through the seen/unseen-word/unseen-prev join cascade
    val lm = timed(1, 3) {
      val model = ops.Lm.trainBigramLm(sample, "text")
      ops.Lm.lmScore(docs, "doc_id", "text", model)
        .agg(sum($"score_q")).head().getLong(0)
    }

    // 6. Stupid Backoff trigram gate over the same corpus/sample split —
    //    the 3-join cascade's cost relative to the bigram gate's 2-join
    //    one (position explode is identical; the extra width is the
    //    per-position context strings and one more broadcast probe)
    val sb = timed(1, 3) {
      val model = ops.Lm.trainStupidBackoff(sample, "text", n = 3)
      ops.Lm.stupidBackoffScore(docs, "doc_id", "text", model, n = 3)
        .agg(sum($"score_q")).head().getLong(0)
    }

    // 7. C4 line + page rules over a multi-line corpus: every doc carries
    //    a 3-sentence keeper line, a short dropped line, 30% a javascript
    //    line (dropped) and 10% a brace line (drops the PAGE). Pure
    //    map-side — the cost is the line/word splitting itself.
    val cdocs = spark.range(nDocs).select($"id".as("doc_id"),
        concat(
          lit("alpha "), $"id", lit(" beta one. gamma delta two! epsilon zeta three?"),
          lit("\nshort line"),
          when($"id" % 10 < 3, lit("\nplease enable javascript now thanks."))
            .otherwise(lit("")),
          when($"id" % 10 === 4, lit("\nif (x) { return y; }"))
            .otherwise(lit(""))).as("text"))
      .cache()
    cdocs.count()
    val c4 = timed(1, 3) {
      cdocs.where(ops.Cleaning.c4Gate($"text"))
        .select(ops.Cleaning.c4CleanLines($"text").as("c"))
        .agg(count(lit(1))).head().getLong(0)
    }

    // 8. Naive Bayes: train on a 1% hash-sample labeled by source (8
    //    labels), classify the FULL corpus — the broadcast feature join +
    //    label fan-out + per-(doc,label) combine at corpus width
    val nb = timed(1, 3) {
      val model = ops.NaiveBayes.trainNb(sample, "text", "source")
      ops.NaiveBayes.nbClassify(docs, "doc_id", "text", model)
        .agg(count(lit(1))).head().getLong(0)
    }

    // 9. DSIR: target LM on a 1% natural sample, raw LM on the same sample
    //    reversed, importance weights over the FULL corpus (two scoring
    //    cascades), Gumbel-top-k select 10k — TakeOrdered, no global sort
    val dsir = timed(1, 3) {
      val target = ops.Lm.trainBigramLm(sample, "text")
      val raw = ops.Lm.trainBigramLm(
        sample.select(array_join(reverse(split($"text", " ")), " ").as("text")), "text")
      val w = ops.Sampling.importanceWeights(docs, "doc_id", "text", target, raw)
      ops.Sampling.dsirSample(w, "doc_id", k = 10000)
        .agg(count(lit(1))).head().getLong(0)
    }

    // 10. normalized dedup at width: every odd doc is an UPPERCASED
    //     "!!"-suffixed mirror of the even doc below it — the whole
    //     normalization chain (lower/translate/regex×3) runs map-side
    //     inside the partial agg and exactly half the corpus survives
    val ndocs = spark.range(nDocs).select($"id".as("doc_id"),
        when($"id" % 2 === 0,
          concat(lit("alpha "), ($"id" / 2).cast("long"), lit(" beta gamma delta")))
        .otherwise(
          concat(lit("ALPHA "), ($"id" / 2).cast("long"), lit(" BETA GAMMA DELTA !!")))
        .as("text"))
      .cache()
    ndocs.count()
    val norm = timed(1, 3) {
      ops.Dedup.normalizedDedup(ndocs, "doc_id", "text").count()
    }

    // 11. DOMAIN-scoped line pruning over the same corpus as stage 1
    //     (source = 8 domains): the boilerplate line is hot WITHIN every
    //     domain (~0.3·n/8 docs each ≫ 5), so the outcome matches the
    //     global rule here — the measured delta is the per-domain key
    //     (domain, lh) shuffle replacing the broadcast hot set
    val dom = timed(1, 3) {
      ops.Cleaning.pruneRepeatedLinesByDomain(
          docs.withColumnRenamed("source", "domain"),
          "doc_id", "domain", "text", 8, 5)
        .agg(sum($"n_kept")).head().getLong(0)
    }

    // 12. semantic decontamination at width: 16-dim xxhash64-derived
    //     integer vectors (signed, so random cosines center on 0), bench
    //     = 1000 exact copies sampled every n/1000 ids — each must hit
    //     its corpus twin (and the twin itself) through the 256-cell /
    //     2-probe search; at 256 > CodebookLiteralMax centroids the
    //     corpus-side assign is the broadcast-codebook path (one per-id
    //     hash-agg exchange — the 36 s plan, vs 159 s for the window
    //     form it replaced), then the cell match is a broadcast join
    val dim = 16
    val vec = array((0 until dim).map(j =>
      xxhash64($"doc_id", lit(j)) % 1000): _*)
    val edocs = spark.range(nDocs).select($"id".as("doc_id"))
      .withColumn("v", vec).cache()
    edocs.count()
    val ebench = edocs.where($"doc_id" % (nDocs / 1000) === 0)
      .select(($"doc_id" + 1000000000L).as("doc_id"), $"v").cache()
    ebench.count()
    val sem = timed(1, 3) {
      ops.Cleaning.semanticDecontaminate(edocs, ebench, "doc_id", "v",
          threshold = 0.999, nCentroids = 256, nProbe = 2)
        .where($"keep" === 0).count()
    }

    // 13. INTRA-doc line dedup over the same multi-line corpus as stage 7:
    //     pure per-row array algebra (split once via bindOnce, O(L²)
    //     first-occurrence filter in the small per-page line count) —
    //     must scale like the map-side C4 stage, no shuffle at all
    val docLine = timed(1, 3) {
      cdocs.select(ops.Cleaning.dedupLinesWithinDoc($"text").as("c"))
        .agg(sum(size(split($"c", "\n")))).head().getLong(0)
    }

    // 14. binary near-dup at width (nDocs/4 payloads, 1% planted
    //     truncated twins): byte-shingle MinHash is 8 salted mins over
    //     ~61 shingles per 64-byte payload — the signature map is the
    //     new cost; banding/verify reuse the text machinery benched in
    //     the dedup scenario. Expected pairs ≥ planted twins.
    val bdocs = docs.where($"doc_id" < nDocs / 4)
      .select($"doc_id", encode(substring($"text", 1, 64), "utf-8").as("payload"))
    val btwins = bdocs.where($"doc_id" % 100 === 0)
      .select(($"doc_id" + nDocs.toLong).as("doc_id"),
        encode(substring(decode($"payload", "utf-8"), 1, 56), "utf-8").as("payload"))
    val bcorpus = bdocs.union(btwins).cache()
    bcorpus.count()
    val bin = timed(1, 3) {
      ops.Media.binaryNearDupPairs(bcorpus, "doc_id", "payload",
        n = 4, k = 8, bands = 4, threshold = 0.5).count()
    }

    println(f"""{"metric":"cleaning_scale","n_docs":$nDocs,"bench_docs":$benchDocs,""" +
      f""""prune_kept_lines":${prune.result},"prune_sec":${prune.median}%.2f,""" +
      f""""contaminated":${decon.result},"decon_sec":${decon.median}%.2f,""" +
      f""""shards":${mix.result},"mix_pack_sec":${mix.median}%.2f,""" +
      f""""substr_removed_tokens":${substr.result},"substr_sec":${substr.median}%.2f,""" +
      f""""lm_score_sum":${lm.result},"lm_sec":${lm.median}%.2f,""" +
      f""""sb_score_sum":${sb.result},"sb_sec":${sb.median}%.2f,""" +
      f""""c4_kept":${c4.result},"c4_sec":${c4.median}%.2f,""" +
      f""""nb_preds":${nb.result},"nb_sec":${nb.median}%.2f,""" +
      f""""dsir_selected":${dsir.result},"dsir_sec":${dsir.median}%.2f,""" +
      f""""norm_kept":${norm.result},"norm_sec":${norm.median}%.2f,""" +
      f""""dom_kept_lines":${dom.result},"dom_sec":${dom.median}%.2f,""" +
      f""""sem_contaminated":${sem.result},"sem_sec":${sem.median}%.2f,""" +
      f""""docline_kept":${docLine.result},"docline_sec":${docLine.median}%.2f,""" +
      f""""bin_pairs":${bin.result},"bin_sec":${bin.median}%.2f}""")
  }

  /** Hot-bucket-guard micro-bench (BENCH/BASELINE.md "hot-bucket guard"):
    * quantifies the quadratic blow-up an exact-dup cluster causes in LSH
    * candidate generation, and what the guard saves. A web-crawl corpus
    * routinely contains 10⁵–10⁶-member exact-dup clusters; every member
    * shares every band bucket, so the unguarded self-join emits
    * |cluster|²/2 pairs before distinct().
    *
    * Usage: dedup [nDistinct] [clusterSize]
    */
  def dedup(spark: SparkSession, args: Seq[String]): Unit = {
    val nDistinct = args.headOption.map(_.toInt).getOrElse(200000)
    val cluster = args.lift(1).map(_.toInt).getOrElse(10000)
    import spark.implicits._

    // distinct docs: unique shingles per doc; dup cluster: one shared text
    val distinctDocs = spark.range(nDistinct).select($"id".as("doc_id"),
      concat_ws(" ", lit("alpha"), $"id", lit("beta"), $"id", lit("gamma"), $"id", lit("delta")).as("text"))
    val dupDocs = spark.range(cluster).select(($"id" + 10000000L).as("doc_id"),
      lit("same words in every single copy of this crawl page").as("text"))
    val sigs = ops.Dedup.minhashSignatures(distinctDocs.union(dupDocs), "text", 8)
      .select($"doc_id", $"sig").cache()
    sigs.count() // materialize signatures outside the timed region

    val (nG, tG) = clock(ops.Dedup.lshCandidatePairs(sigs, "doc_id", 4, 4096).count())
    val (nU, tU) = clock(ops.Dedup.lshCandidatePairs(sigs, "doc_id", 4, 0).count())
    // exact dedup over the same corpus: the dup cluster shares ONE content
    // hash, so a window-based dedup would sort the whole cluster in one
    // task; the partial-agg shape collapses it map-side (no straggler).
    val (nKept, tE) = clock {
      ops.Dedup.exactDedup(distinctDocs.union(dupDocs), "doc_id", "text").count()
    }
    println(f"""{"metric":"lsh_hot_bucket_guard","n_distinct":$nDistinct,"cluster":$cluster,""" +
      f""""guarded_pairs":$nG,"guarded_sec":$tG%.2f,"unguarded_pairs":$nU,"unguarded_sec":$tU%.2f,""" +
      f""""exact_dedup_kept":$nKept,"exact_dedup_sec":$tE%.2f}""")
  }

  /** Copy-on-write delete scale evidence (BENCH/BASELINE.md "maintenance
    * plane"): a takedown request names k documents; the cost that matters
    * at 100 TB is how much of the TABLE the delete touches. The
    * file-granular path plans candidate files from the manifest's zone
    * maps, locates actual hits with a per-file count over candidates only,
    * and rewrites just the containing files — so the wall should be ~flat
    * in table width at fixed k, and files_rewritten should track k, not
    * the hit buckets' file population.
    *
    * Protocol: build a real extraction table (ExtractJob.run — the same
    * writer production uses, so zone maps come from actual parquet
    * footers) at each width, then time 3 deletes of DISJOINT 8-id key sets
    * (a delete mutates the table; repeating one key set would no-op) and
    * report the median wall plus the blast-radius accounting read back
    * from the committed snapshots.
    *
    * Usage: delete [docsSmall] [docsLarge] [partitions]
    */
  def delete(spark: SparkSession, args: Seq[String]): Unit = {
    val nSmall = args.headOption.map(_.toInt).getOrElse(200000)
    val nLarge = args.lift(1).map(_.toInt).getOrElse(800000)
    val parts = args.lift(2).map(_.toInt).getOrElse(64)
    import spark.implicits._

    def run(n: Int): Unit = scratch(s"del_bench_$n") { dir =>
      ExtractJob.run(spark, DocGen.generate(spark, n, parts), dir, "base",
        resume = false, numPartitions = parts)
      val m = new Manifest(dir, spark.sessionState.newHadoopConf())
      // 3 disjoint 8-id takedowns spread across the id space
      val keyRounds = (0 until 3).map(r =>
        (0 until 8).map(i => f"d${(n.toLong * (8 * r + i + 1)) / 25}%010d"))
      val walls = keyRounds.map { keys =>
        val pre = m.head().get
        val (post, sec) = clock(ExtractJob.deleteByKey(spark, dir, keys.toDF("doc_id"), "doc_id"))
        val f0 = pre.buckets.map(b => b.bucket -> b.files.toSet).toMap
        val hitB = post.buckets.filter(b => b.files.toSet != f0(b.bucket))
        val rewritten = hitB.map(b => (f0(b.bucket) -- b.files.toSet).size).sum
        val hitBucketFiles = hitB.map(b => f0(b.bucket).size).sum
        (sec, rewritten, hitBucketFiles, pre.buckets.map(_.files.size).sum)
      }
      // the blast-radius counts come from the MEDIAN round — the same
      // delete whose wall is reported (rounds can hit different files)
      val w = walls.sortBy(_._1).apply(1)
      println(f"""{"metric":"delete_cow","corpus":$n,"keys":8,""" +
        f""""files_total":${w._4},"files_hit_buckets":${w._3},""" +
        f""""files_rewritten":${w._2},"sec_median":${w._1}%.2f}""")
    }
    run(nSmall)
    run(nLarge)
  }

  /** Incremental-dedup scale evidence (BENCH/BASELINE.md "incremental
    * admission"): one day's crawl increment against a large immutable
    * corpus. The delta is a realistic mix — fresh docs, exact re-crawls of
    * corpus pages, near-dup re-crawls (one word appended), and
    * within-delta duplicate pairs — so every stage of the admission chain
    * does real work. The headline is per-increment wall; running two
    * corpus widths at the same delta splits it into the corpus term (ONE
    * hash + signature/banding pass, linear in corpus width — removed
    * entirely by persisting those two indexes next to the corpus, as the
    * operator doc advises) and the delta-driven remainder.
    *
    * Usage: incr [corpusDocs] [deltaDocs]
    */
  def incr(spark: SparkSession, args: Seq[String]): Unit = scratch("incr_") { root =>
    val nCorpus = args.headOption.map(_.toInt).getOrElse(2000000)
    val nDelta = args.lift(1).map(_.toInt).getOrElse(200000)
    import spark.implicits._

    // 12 id-derived words per doc — distinct docs share NO words (a
    // boilerplate-free corpus; the hot-line/boilerplate regime is the
    // clean scenario's subject), so near-dup structure is exactly the
    // planted one and the LSH buckets stay sparse
    def docText(idc: Column, words: Int = 12) = concat_ws(" ",
      (0 until words).map(j => concat(lit("w"), idc, lit(s"t$j"))): _*)

    val corpus = spark.range(nCorpus)
      .select($"id".as("doc_id"), docText($"id").as("text")).cache()
    // delta quarters: fresh | exact re-crawl | near-dup re-crawl | internal pairs
    // id/text offsets far above any plausible corpus width — a corpus of
    // 10M+ docs must NOT collide with the "fresh" quarter's ids or texts
    // (a collision silently turns fresh docs into exact re-crawls and
    // corrupts the corpus-width comparison this bench exists to make)
    require(nCorpus < 1000000000, "corpus width would collide with delta id space")
    val q = nDelta / 4
    val delta = spark.range(q)
      .select(($"id" + 1000000000L).as("doc_id"), docText($"id" + 1000000000L).as("text"))
      .union(spark.range(q).select(($"id" + 2000000000L).as("doc_id"), docText($"id").as("text")))
      .union(spark.range(q).select(($"id" + 3000000000L).as("doc_id"),
        concat(docText($"id" + q), lit(" extra")).as("text")))
      .union(spark.range(q / 2).flatMap { i =>
        val base = (0 until 12).map(j => s"p${i}t$j").mkString(" ")
        Seq((4000000000L + i, base), (5000000000L + i, base + " tail"))
      }.toDF("doc_id", "text"))
      .cache()
    corpus.count(); delta.count() // materialize outside the timed region

    val plain = timed(1, 3) {
      ops.Dedup.incrementalDedup(delta, corpus, "doc_id", "text").count()
    }
    println(f"""{"metric":"incremental_dedup","corpus":$nCorpus,"delta":$nDelta,""" +
      f""""admitted":${plain.result},"sec":${plain.median}%.2f,""" +
      f""""delta_docs_per_sec":${(nDelta / plain.median).toLong}}""")

    // index path: the one-time buildIndex cost, then the per-increment
    // wall with the index AT REST (parquet round trip — the persistence
    // contract) — this is the row that must stay FLAT in corpus width
    val ixDir = s"$root/index"
    val (_, ixSec) = clock {
      ops.Dedup.buildIndex(corpus, "doc_id", "text").write.mode("overwrite").parquet(ixDir)
    }
    val index = spark.read.parquet(ixDir)
    val indexed = timed(1, 3) {
      ops.Dedup.incrementalDedupIndexed(delta, corpus, index, "doc_id", "text").count()
    }
    require(indexed.result == plain.result,
      s"index path admitted ${indexed.result} != corpus path ${plain.result}")
    println(f"""{"metric":"incremental_dedup_indexed","corpus":$nCorpus,"delta":$nDelta,""" +
      f""""admitted":${indexed.result},"build_index_sec":$ixSec%.2f,"sec":${indexed.median}%.2f,""" +
      f""""delta_docs_per_sec":${(nDelta / indexed.median).toLong}}""")

    // ------------------------------------------------------------------
    // Pruned candidate resolution over an id-bucketed AT-REST corpus —
    // the sub-bucket layout runIndexedCorpusStream writes. Buckets are
    // FIXED-SIZE (≈8k docs → the bucket COUNT grows with the corpus, the
    // production layout), so the candidate text resolution's corpus I/O
    // is bounded by (candidate buckets × bucket size): FLAT in corpus
    // width at a fixed daily candidate load, where the unpruned scan
    // reads the whole corpus (id, text) every increment. Measured as
    // actual task input bytes via a SparkListener, same decisions
    // asserted.
    // ------------------------------------------------------------------
    // realistic TEXT width for the I/O question (the 12-word docs above
    // keep the wall sections fast but make corpus text as narrow as the
    // index, hiding the term pruning removes): 36 words/doc here
    def docTextWide(idc: Column) = docText(idc, 36)
    val bucketDocs = 1024
    val nB = math.max(1, nCorpus / bucketDocs)
    // the WRITER-side hash must be the same function the pruner uses —
    // an inline copy could drift and silently resolve no candidate text
    // (the pruneBucket contract); take it from the one definition
    val bucketOf = streaming.EventStream.corpusBucketOf(nB) _
    val bdir = s"$root/bucketed"
    spark.range(nCorpus)
      .select($"id".as("doc_id"), docTextWide($"id").as("text"))
      .withColumn("cb", bucketOf($"doc_id"))
      .write.partitionBy("cb").mode("overwrite").parquet(bdir)
    val corpusB = spark.read.parquet(bdir)
    ops.Dedup.buildIndex(corpusB, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/index2")
    val index2 = spark.read.parquet(s"$root/index2")
    // realistic daily load: mostly fresh docs, few (50) near-dup
    // re-crawls of stride-sampled corpus pages — candidates touch ≤50
    // of the nB sub-buckets, so the pruned text read is candidate-bounded
    val stride = math.max(1, nCorpus / 50)
    val delta2 = spark.range(20000)
      .select(($"id" + 6000000000L).as("doc_id"),
        docTextWide($"id" + 6000000000L).as("text"))
      .union(spark.range(50).select(($"id" * stride + 7000000000L).as("doc_id"),
        concat(docTextWide($"id" * stride), lit(" extra")).as("text")))
      .cache()
    delta2.count()
    // bytes attributed to the CORPUS scan specifically: the planned
    // post-pruning file size of every FileSourceScan over the bucketed
    // corpus dir, summed across the executed plan (AQE-aware). This
    // isolates the term pruning targets — the candidate text resolution —
    // from the (deliberately whole) narrow index scans.
    def walkCorpusScan(p: org.apache.spark.sql.execution.SparkPlan): Long = {
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val here = p match {
        case a: AdaptiveSparkPlanExec => walkCorpusScan(a.executedPlan)
        // AQE hides materialized stages behind QueryStageExec.plan (not
        // children); ReusedExchange re-references an already-counted stage
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walkCorpusScan(q.plan)
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(bdir)) =>
          s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case _ => 0L
      }
      here + p.children.map(walkCorpusScan).sum + p.subqueries.map(walkCorpusScan).sum
    }
    // the operator materializes its stage outputs (pins), so
    // the corpus scan lives in an INTERMEDIATE execution, not the final
    // count's plan — accumulate across every execution via the listener;
    // its events ride the listener bus, drained on both sides of a run
    val corpusBytes = new AtomicLong
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        corpusBytes.addAndGet(walkCorpusScan(qe.executedPlan))
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def measured(prune: Option[(String, Column => Column)]): (Long, Long, Double) = {
      GraftBus.drain(spark.sparkContext); corpusBytes.set(0)
      val (n, sec) = clock(ops.Dedup.incrementalDedupIndexed(delta2, corpusB, index2,
        "doc_id", "text", pruneBucket = prune).count())
      GraftBus.drain(spark.sparkContext)
      (n, corpusBytes.get(), sec)
    }
    val ((nPlain, bPlain, sPlain), (nPruned, bPruned, sPruned)) =
      try (measured(None), measured(Some(("cb", bucketOf))))
      finally spark.listenerManager.unregister(listener)
    require(nPruned == nPlain, s"pruning changed admissions: $nPruned != $nPlain")
    println(f"""{"metric":"incremental_dedup_pruned","corpus":$nCorpus,"buckets":$nB,""" +
      f""""delta":20200,"admitted":$nPruned,"corpus_scan_bytes_unpruned":$bPlain,""" +
      f""""corpus_scan_bytes_pruned":$bPruned,"sec_unpruned":$sPlain%.2f,"sec_pruned":$sPruned%.2f}""")
  }

  /** Daily-increment pipeline scale evidence (BENCH/BASELINE.md): the
    * number a pipeline operator watches is the PER-INCREMENT wall as the
    * accumulated corpus grows — if admitting day N costs more than day 1,
    * the pipeline has an O(corpus) term and dies at scale. This bench
    * builds a base corpus, then admits K equal-sized increments of fresh
    * docs back to back, timing each admit+pack round separately; the
    * headline is the LAST round's wall vs the FIRST's (ratio ≈ 1 = flat),
    * with the corpus size at each round reported alongside.
    *
    * Usage: incr_pipe [baseDocs] [incDocs] [rounds]
    */
  def incrPipe(spark: SparkSession, args: Seq[String]): Unit = scratch("incrpipe_") { out =>
    val nBase = args.headOption.map(_.toInt).getOrElse(100000)
    val nInc = args.lift(1).map(_.toInt).getOrElse(20000)
    val rounds = args.lift(2).map(_.toInt).getOrElse(5)
    val cores = spark.sparkContext.defaultParallelism
    import spark.implicits._

    CorpusMain.run(spark, nBase, out, cores)
    IncrementalCorpus.bootstrap(spark, out, corpusBuckets = 16)
    IncrementalCorpus.packIncrements(spark, out)

    val walls = (1 to rounds).map { r =>
      // fresh, disjoint doc range per round (all pass dedup as new)
      val lo = f"d${nBase.toLong + (r - 1).toLong * nInc}%010d"
      val hi = f"d${nBase.toLong + r.toLong * nInc}%010d"
      val delta = Pin.now(DocGen.generate(spark, nBase.toLong + r.toLong * nInc, cores)
        .where($"doc_id" >= lo && $"doc_id" < hi).toDF()).as[RawDoc] // outside the timed region
      val (packed, sec) = clock {
        IncrementalCorpus.admitIncrement(spark, delta, out, r.toLong)
        IncrementalCorpus.packIncrements(spark, out)
      }
      val corpusRows = new Manifest(IncrementalCorpus.corpusTableDir(out),
          spark.sessionState.newHadoopConf())
        .head().get.buckets.filter(_.bucket < 16).map(_.rows).sum
      println(f"""{"metric":"incr_pipeline_round","round":$r,"inc_docs":$nInc,""" +
        f""""packed":$packed,"corpus_rows":$corpusRows,"sec":$sec%.2f}""")
      sec
    }
    println(f"""{"metric":"incr_pipeline","base":$nBase,"inc":$nInc,"rounds":$rounds,""" +
      f""""first_sec":${walls.head}%.2f,"last_sec":${walls.last}%.2f,""" +
      f""""last_over_first":${walls.last / walls.head}%.2f}""")
  }

  /** Scale evidence for [[ops.Dedup.resolveClusters]] (BENCH/BASELINE.md
    * "cluster resolution"): the small-star/large-star loop must converge
    * in O(log diameter) rounds with no driver-side state, so the
    * adversarial inputs are the two extremes a near-dup pair graph
    * produces at crawl scale —
    *  - LONG CHAINS (a→b, b→c, …): maximum diameter per edge; a naive
    *    propagate-one-hop loop needs `len` rounds, small-star/large-star
    *    needs ~log(len);
    *  - a GIANT STAR (one hub paired with everything in its cluster): the
    *    hot-key case — every round funnels the hub's edges through one key.
    *
    * The planted structure makes the correct answer exact (one cluster per
    * chain + one for the star, keeper = min id), so the bench doubles as a
    * correctness check at a scale the unit tests don't reach.
    *
    * Usage: resolve [nChains] [chainLen] [starSize]
    */
  def resolve(spark: SparkSession, args: Seq[String]): Unit = {
    val nChains = args.headOption.map(_.toInt).getOrElse(100000)
    val chainLen = args.lift(1).map(_.toInt).getOrElse(10)
    val starSize = args.lift(2).map(_.toInt).getOrElse(100000)
    import spark.implicits._

    // chain c occupies ids [c*chainLen, (c+1)*chainLen); edges link
    // consecutive ids. One extra LONG chain (len = starSize) stresses
    // diameter; the star pairs one hub with starSize members.
    val base = nChains.toLong * chainLen
    val chainEdges = spark.range(base)
      .where($"id" % chainLen =!= (chainLen - 1))
      .select($"id".as("id_a"), ($"id" + 1).as("id_b"))
    val longChain = spark.range(starSize - 1)
      .select(($"id" + base).as("id_a"), ($"id" + base + 1).as("id_b"))
    val starBase = base + starSize
    val star = spark.range(starSize)
      .select(lit(starBase).as("id_a"), ($"id" + starBase + 1).as("id_b"))
    val pairs = chainEdges.union(longChain).union(star)

    val (r, sec) = clock {
      ops.Dedup.resolveClusters(pairs, "id_a", "id_b").agg(
        count(lit(1)).as("nodes"),
        countDistinct($"cluster_id").as("clusters"),
        sum(when($"keep", 1L).otherwise(0L)).as("keepers"),
        // every keeper must be its chain's minimum id ⇒ cluster_id ≡ 0 mod
        // chainLen for the regular chains; the two giants root at base/starBase
        sum(when($"cluster_id" < base && $"cluster_id" % chainLen =!= 0, 1L)
          .otherwise(0L)).as("bad_roots")).head()
    }
    val nEdges = pairs.count()
    val expected = nChains + 2L
    val ok = r.getLong(1) == expected && r.getLong(2) == expected && r.getLong(3) == 0L
    if (!ok) sys.error(s"resolve wrong: $r expected $expected clusters")
    println(f"""{"metric":"resolve_clusters","edges":$nEdges,"nodes":${r.getLong(0)},""" +
      f""""clusters":${r.getLong(1)},"chain_len":$chainLen,"long_chain":$starSize,""" +
      f""""star":$starSize,"sec":$sec%.2f}""")
  }

  /** Streaming vector-index ingest/probe scale bench
    * ([[graft.streaming.VectorIndexStream]]).
    *
    * The claim under test: per-batch INGEST cost is flat in the table's
    * accumulated ROW count (the codebook never re-fits, assignment touches
    * only the batch, the commit is metadata), and a PROBE batch's
    * candidate scan reads only its probed cells' committed files no matter
    * how many batches were ingested. The honest caveat is printed with
    * the numbers: commit/listing metadata grows with the table's FILE
    * count (one snapshot JSON entry per file), which is what compaction
    * exists to bound — the data plane, not the metadata plane, is the
    * flat one.
    *
    * Usage: vix [nBatches] [batchRows] [dims] [nCells] [gateCosine]
    */
  def vix(spark: SparkSession, args: Seq[String]): Unit = scratch("graft_vixbench_") { root =>
    val nBatches = args.headOption.map(_.toInt).getOrElse(10)
    require(nBatches >= 2,
      "vix needs >= 2 batches: batch 0 pays the Lloyd bootstrap, so " +
        "the flatness comparison is batch 1 vs the last batch")
    val batchRows = args.lift(1).map(_.toInt).getOrElse(100000)
    val dims = args.lift(2).map(_.toInt).getOrElse(32)
    val nCells = args.lift(3).map(_.toInt).getOrElse(32)
    // optional 5th arg: a cosine threshold turns the semantic admission
    // gate on for every batch — measures the gate's join overhead on a
    // near-orthogonal corpus (no drops, pure cost) as the table grows
    val gate = args.lift(4).map(_.toDouble)
    import spark.implicits._
    val tbl = s"$root/t"
    // deterministic id-derived vectors (integer-valued doubles) — the
    // bench measures plan cost, not recall (the ann scenario owns recall)
    def wave(b: Int) = spark.range(b.toLong * batchRows,
        (b + 1).toLong * batchRows)
      .select($"id".as("vec_id"),
        expr(s"transform(sequence(0, ${dims - 1}), " +
          "j -> cast(pmod(xxhash64(id, j), 1000) as double))").as("embedding"))

    val batchSecs = (0 until nBatches).map { b =>
      clock(streaming.VectorIndexStream.indexBatch(wave(b), b.toLong, tbl,
        "vixbench-stream", "vec_id", "embedding", nCells, lloydIters = 1,
        nearDupCosine = gate))._2
    }
    // first post-bootstrap batch (no Lloyd cost) vs the last
    val (tFirst, tLast) = (batchSecs(1), batchSecs.last)

    val m = new Manifest(tbl, spark.sessionState.newHadoopConf())
    def cells() = m.head().get.buckets.filter(_.bucket < nCells)
    val totalFiles = cells().map(_.files.length).sum
    val totalRows = cells().map(_.rows).sum

    // probe at full width: the scan's file list must be the probed
    // cells' files only, a fixed FRACTION of the table (nProbe/nCells of
    // cells for a single probe; a spread probe batch unions its cells)
    val probes = wave(0).where($"vec_id" < 1)
    val nProbe = math.max(1, nCells / 8)
    def probe() = clock {
      val r = streaming.VectorIndexStream.topKSnapshot(spark, tbl, probes,
        "vec_id", "embedding", k = 10, nProbe = nProbe, nCells = nCells)
      r.count() // materialize
      r.inputFiles.length
    }
    val (probedFrag, tProbeFrag) = probe()

    // compaction bounds the metadata plane: same probe, ≤ nProbe files
    val (_, tCompact) = clock {
      ExtractJob.compact(spark, tbl, only = Some((0 until nCells).toSet))
    }
    val compactFiles = cells().map(_.files.length).sum
    val (probedComp, tProbeComp) = probe()

    val gateStr = gate.map(g => f""","gate_cosine":$g%.4f""").getOrElse("")
    println(f"""{"metric":"vix_ingest","n_batches":$nBatches,""" +
      f""""batch_rows":$batchRows,"dims":$dims,"n_cells":$nCells,""" +
      f""""total_rows":$totalRows,"total_files":$totalFiles,""" +
      f""""batch1_sec":$tFirst%.2f,"batch${nBatches - 1}%d_sec":$tLast%.2f,""" +
      f""""n_probe":$nProbe,""" +
      f""""probe_files_scanned":$probedFrag,"probe_sec":$tProbeFrag%.2f,""" +
      f""""compact_sec":$tCompact%.2f,"files_after_compact":$compactFiles,""" +
      f""""probe_files_scanned_compacted":$probedComp,""" +
      f""""probe_sec_compacted":$tProbeComp%.2f$gateStr}""")
  }
}
