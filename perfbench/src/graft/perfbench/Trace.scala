package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One timed call into a layer. Spans nest through the tracer's stack and
  * carry wall-clock milliseconds (to line up with Spark listener events)
  * plus nanosecond durations. `counters` hold per-span facts recorded at
  * the call site (rows, bytes, files). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, endMs: Long, nanos: Long,
    counters: mutable.LinkedHashMap[String, Double]) {
  def seconds: Double = nanos / 1e9
}

/** In-memory span recorder: spans are kept in a buffer and written once,
  * when the run ends. Timing a span costs two clock reads, so the timed
  * (untraced) runs use the same recorder for their end-to-end numbers. */
final class Tracer(val runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String, counters: (String, Double)*)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val nanos = System.nanoTime() - t0
      stack = stack.tail
      done += Span(id, name, parent, runId, startMs, System.currentTimeMillis(),
        nanos, mutable.LinkedHashMap(counters: _*))
    }
  }

  /** Attach a counter to the most recent finished span called `name`. */
  def count(name: String, key: String, value: Double): Unit =
    done.findLast(_.name == name).foreach(_.counters(key) = value)

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** Self time per span name, over the spans that started at or after
    * `fromMs`: each span's duration minus the part of its interval that
    * its direct children cover (children never overlap: the driver thread
    * runs one call at a time). */
  def selfSeconds(fromMs: Long): Map[String, Double] = {
    val byParent = spans.groupBy(_.parent)
    spans.filter(_.startMs >= fromMs).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map(s => s.seconds - byParent.getOrElse(s.id, Nil).map(_.seconds).sum).sum
    }
  }

  /** The spans as records for the run's report. */
  def records: Seq[ListMap[String, Any]] = spans.map { s =>
    ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds, "counters" -> s.counters)
  }
}

/** Job, task and block facts gathered from the Spark listener bus. Only a
  * traced run registers it. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val site: String) {
    var endMs: Long = Long.MaxValue
    var tasks = 0
    var taskMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var pinned = 0L
  /** (wall ms, pinned RDD-block bytes after the update) */
  private val pinnedSeries = mutable.ArrayBuffer((0L, 0L))

  /** SQL execution id -> the short call site of the action behind it */
  private val execSite = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(x.executionId) = x.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job of a SQL action (adaptive query stages included, which run on
    // pool threads) is keyed by the action's short call site, e.g. "count
    // at EventStream.scala:640"; any other job by its result stage's name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => execSite.get(id.toLong))
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, e.time, site)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      pinned += bytes - rddBlocks.getOrElse(key, 0L)
      if (bytes > 0) rddBlocks(key) = bytes else rddBlocks.remove(key)
      pinnedSeries += ((System.currentTimeMillis(), pinned))
    }
  }

  def jobsIn(startMs: Long, endMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
  }

  /** The jobs as records for the run's report. */
  def records: Seq[ListMap[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      ListMap("job" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "site" -> j.site,
        "tasks" -> j.tasks, "task_ms" -> j.taskMs, "shuffle_bytes" -> j.shuffleBytes,
        "spill_bytes" -> j.spillBytes)
    }
  }

  def pinnedPeak(startMs: Long, endMs: Long): Long = synchronized {
    val before = pinnedSeries.takeWhile(_._1 < startMs).lastOption.map(_._2).getOrElse(0L)
    (before +: pinnedSeries.filter(p => p._1 >= startMs && p._1 <= endMs).map(_._2).toSeq).max
  }
}

/** Per-layer numbers of a set of spans, from the jobs that started inside
  * them. */
final case class LayerStats(s: Double, jobs: Int, tasks: Int, taskS: Double,
    driverGapS: Double, shuffleBytes: Double, spillBytes: Double,
    pinnedPeakBytes: Double, bySite: Map[String, (Int, Double)])

object LayerStats {
  def of(rec: JobRecorder, spans: Seq[Span]): LayerStats = {
    val per = spans.map { sp =>
      val js = rec.jobsIn(sp.startMs, sp.endMs)
      // driver gap: span wall minus the union of its jobs' intervals
      val ivs = js.map(j => (j.startMs, math.min(j.endMs, sp.endMs))).sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      ivs.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      val gap = math.max(0.0, sp.seconds - covered / 1e3)
      (sp, js, gap, rec.pinnedPeak(sp.startMs, sp.endMs))
    }
    val js = per.flatMap(_._2)
    val sites = js.groupBy(j => siteFile(j.site)).map { case (f, g) =>
      f -> (g.size, g.map(_.taskMs).sum / 1e3)
    }
    LayerStats(spans.map(_.seconds).sum, js.size, js.map(_.tasks).sum,
      js.map(_.taskMs).sum / 1e3, per.map(_._3).sum,
      js.map(_.shuffleBytes).sum.toDouble, js.map(_.spillBytes).sum.toDouble,
      if (per.isEmpty) 0.0 else per.map(_._4).max.toDouble, sites)
  }

  /** "count at EventStream.scala:640" -> "EventStream" */
  def siteFile(site: String): String = {
    val m = """ at ([A-Za-z0-9_$]+)\.(scala|java):\d+""".r.findFirstMatchIn(site)
    m.map(_.group(1)).getOrElse("other")
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}
