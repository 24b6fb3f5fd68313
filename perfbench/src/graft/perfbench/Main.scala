package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Everything a workload needs: the session, its fresh work directory, the
  * run's parameters, the span recorder, and the tallies behind the result
  * line (attempted/failed operations, metrics). */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val cpus: Int, startNs: Long) {
  val tracer = new Tracer(s"seed$seed")
  val recorder: Option[JobRecorder] =
    if (trace) Some(new JobRecorder) else None
  recorder.foreach(spark.sparkContext.addSparkListener)

  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Workload facts worth printing but not part of the result line. */
  val notes = mutable.LinkedHashMap.empty[String, String]

  /** A timed operation of the workload. An exception propagates: the run
    * then ends without a result line. */
  def op[A](name: String)(body: => A): A = {
    attempted += 1
    tracer.span(name)(body)
  }

  /** An output check; a false or throwing check counts as a failed
    * operation. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Exception =>
        System.err.println(s"check $name threw: $e")
        false
    }
    if (!pass) {
      failed += 1
      System.err.println(s"CHECK FAILED: $name")
    }
  }

  def path(rel: String): String = s"$work/$rel"

  /** Wall-clock start of the timed part of the run (after set-up). */
  var timedFromMs = Long.MaxValue

  /** Ends set-up: `setup_s` is the wall from the start of session creation
    * to here, warm-up pass included. */
  def setupDone(): Unit = {
    e2e("setup_s") = (System.nanoTime() - startNs) / 1e9
    timedFromMs = System.currentTimeMillis()
  }

  /** Spans called `name` that ran after set-up. */
  def timed(name: String): Seq[Span] =
    tracer.named(name).filter(_.startMs >= timedFromMs)

  /** Records per-layer metrics `<prefix>.<field>` over the spans called
    * `span` (those after set-up unless `afterSetup` is false): job facts
    * from the listener for `fields`, the spans' own `counters`. Each is a
    * mean per span, except the ratio and the peak. Traced runs only. */
  def layer(prefix: String, span: String, fields: Seq[String],
      counters: Seq[String] = Nil, afterSetup: Boolean = true): LayerStats = {
    LayerStats.drain(spark.sparkContext)
    val ss = if (afterSetup) timed(span) else tracer.named(span)
    val st = LayerStats.of(recorder.get, ss)
    val k = math.max(1, ss.size).toDouble
    fields.foreach { f =>
      layers(s"$prefix.$f") = f match {
        case "s" => st.s / k
        case "jobs" => st.jobs / k
        case "tasks" => st.tasks / k
        case "tasks_per_job" => st.tasks.toDouble / math.max(1, st.jobs)
        case "task_s" => st.taskS / k
        case "driver_gap_s" => st.driverGapS / k
        case "shuffle_bytes" => st.shuffleBytes / k
        case "spill_bytes" => st.spillBytes / k
        case "pinned_peak_bytes" => st.pinnedPeakBytes
      }
    }
    counters.foreach { c =>
      layers(s"$prefix.$c") = ss.map(_.counters.getOrElse(c, 0.0)).sum / k
    }
    st
  }
}

/** Entry point: `Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outDir>`.
  * Runs one workload in this local-mode JVM and prints the result line. */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "extract_table" -> ExtractTable.run,
    "daily_increment" -> DailyIncrement.run)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Driver heap still in use after full collections: what the session
    * retains (cached and pinned blocks, broadcasts, driver-side state).
    * Spark's context cleaner frees shuffle and broadcast state only after
    * a collection found it unreachable, so the smallest of three
    * collections spaced 200 ms apart is taken. */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
  }.min

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Runs `body` with a fresh local-mode session (the one every production
    * main builds, as in `CorpusMain.main`) and its context. */
  def withSession(name: String, work: String, seed: Long = 0L, seconds: Int = 0,
      trace: Boolean = false)(body: Ctx => Unit): Ctx = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, work, seed, seconds, trace, cpus, t0)
    try body(ctx)
    finally ctx.recorder.foreach(spark.sparkContext.removeSparkListener)
    ctx.e2e("heap_live_mb") = heapLiveMb()
    ctx.notes("peak_rss_mb") = f"${peakRssMb()}%.1f"
    spark.stop()
    ctx
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, outDir) = args
    val run = workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${workloads.keys.mkString(", ")}"))
    val ctx = withSession(workload, work, seedS.toLong, secondsS.toInt, traceS == "1")(run)

    ctx.notes.foreach { case (k, v) => println(s"# $k: $v") }
    println(f"# fail_frac: ${ctx.failed.toDouble / math.max(1L, ctx.attempted)}%.4f " +
      s"(${ctx.failed} of ${ctx.attempted} operations and checks)")
    if (ctx.trace) ctx.tracer.selfSeconds(ctx.timedFromMs).toSeq.sortBy(-_._2).foreach {
      case (k, v) => println(f"# self_s $k%-38s $v%.3f")
    }

    // every run reports exactly the metrics BENCHMARK.json declares; a per-layer
    // metric of a layer the workload does not run reads 0
    val (e2eSpec, layerSpec) = (Spec.metrics("end_to_end"), Spec.metrics("per_layer"))
    val undeclared = (ctx.e2e.keySet -- e2eSpec.keySet) ++ (ctx.layers.keySet -- layerSpec.keySet)
    require(undeclared.isEmpty, s"metrics not declared in BENCHMARK.json: $undeclared")
    def report(values: collection.Map[String, Double], spec: ListMap[String, String],
        default: String => Double) = spec.map { case (k, unit) =>
      k -> ListMap("value" -> values.getOrElse(k, default(k)), "unit" -> unit)
    }
    val e2e = report(ctx.e2e, e2eSpec, k => sys.error(s"workload $workload did not report $k"))
    val layers = if (ctx.trace) report(ctx.layers, layerSpec, _ => 0.0) else ListMap.empty
    val shown = if (ctx.trace) layers else e2e
    shown.foreach { case (k, m) => println(f"# $k%-44s ${m("value")} ${m("unit")}") }

    // the spans (and, traced, the jobs) and all metrics of this run, written once at the end
    Files.createDirectories(Paths.get(outDir))
    val prefix = s"$outDir/$workload-seed${ctx.seed}-trace$traceS"
    def write(suffix: String, v: Any): Unit =
      Files.write(Paths.get(s"$prefix.$suffix.json"), Json.write(v).getBytes(StandardCharsets.UTF_8))
    write("spans", ctx.tracer.records)
    ctx.recorder.foreach(r => write("jobs", r.records))
    write("metrics", e2e ++ layers)

    println(Json.write(ListMap("correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> shown)))
  }
}
