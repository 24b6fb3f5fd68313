package graft

/** Driver-side action overlap (optimization guide §2.6): Spark happily runs
  * several jobs at once inside one application — actions are sequential only
  * because driver code calls them sequentially. Independent metadata-plane
  * actions (stat scans, footer jobs, counts over checkpointed frames,
  * writes to disjoint directories) are submitted from a small daemon pool
  * so the next job's tasks back-fill executors freed by the current job's
  * tail. The pool is deliberately small — enough to fill the tail, not so
  * many that jobs fight for executors. */
object Par {
  // cached (not fixed) pool: par() calls may nest (a parallel lane that
  // itself fans out footer reads), and a bounded pool whose threads block
  // awaiting inner futures on the same pool can deadlock. Threads are
  // mostly blocked on Spark actions / FS I/O, so an elastic pool is cheap;
  // the caller keeps concurrency low (a handful of lanes per operator).
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    })

  lazy val ec: scala.concurrent.ExecutionContextExecutorService =
    scala.concurrent.ExecutionContext.fromExecutorService(pool)

  /** Run the thunks concurrently, return their results in order. Any
    * failure propagates (after all thunks have been started). */
  def par[A](fs: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val e: scala.concurrent.ExecutionContext = ec
    val futs = fs.map(f => Future(f()))
    futs.map(Await.result(_, Duration.Inf))
  }

  /** Two-lane convenience overload. */
  def par2[A, B](fa: () => A, fb: () => B): (A, B) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val e: scala.concurrent.ExecutionContext = ec
    val a = Future(fa())
    val b = Future(fb())
    (Await.result(a, Duration.Inf), Await.result(b, Duration.Inf))
  }
}

/** The one place a frame is pinned: Spark's `localCheckpoint` computes the
  * frame once, keeps its rows as executor blocks and cuts its lineage, so
  * every later consumer reads the blocks instead of re-running the plan.
  *
  * A pin outside [[Rounds]] is freed when the JVM collects the frame
  * (Spark's ContextCleaner unpersists the RDD of a collected frame).
  * Iterative operators pin their rounds through [[Rounds]], which frees a
  * superseded round as soon as that is safe. */
object Pin {
  import org.apache.spark.sql.DataFrame

  /** Rounds a loop with no action of its own may leave pending before
    * [[Rounds]] forces them: at most `K + 1` round pins are ever held. */
  val K = 4

  // JVM-wide rather than per thread: lanes started on [[Par]] inside a
  // lineage scope must see it too
  private val lineageScopes = new java.util.concurrent.atomic.AtomicInteger

  private def off = lineageScopes.get > 0

  /** Lazy pin: the first job that reads the frame computes and keeps it. */
  def apply(df: DataFrame): DataFrame =
    if (off) df else atCaller(df)(df.localCheckpoint(eager = false))

  /** Eager pin: one job computes and keeps the frame now. */
  def now(df: DataFrame): DataFrame = if (off) df else atCaller(df)(df.localCheckpoint())

  // jobs started in here carry the caller's call site ("localCheckpoint at
  // dedup.scala:393"), as a direct call gave them, not this file's: Spark
  // names a job (and its SQL execution) after the first frame outside
  // Spark, and per-operator job accounting keys on that name
  private def atCaller[A](df: DataFrame)(body: => A): A = {
    val sc = df.sparkSession.sparkContext
    val saved = sc.getLocalProperty("callSite.short")
    val f = Thread.currentThread.getStackTrace
      .find(!_.getClassName.matches("java\\..*|graft\\.Pin\\$.*")).get
    sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}")
    try body finally sc.setLocalProperty("callSite.short", saved)
  }

  /** Test hook for plan inspection: inside `body` every pin returns its
    * input (the full lineage stays visible) and [[Rounds]] neither pins
    * nor releases. Plans grow with every pin skipped — tiny inputs only. */
  private[graft] def lineage[A](body: => A): A = {
    lineageScopes.incrementAndGet()
    try body finally lineageScopes.decrementAndGet()
  }

  // `Dataset.unpersist` only drops cache-manager entries and leaves a
  // checkpoint's blocks in place: they belong to the RDD under the
  // pinned frame's LogicalRDD leaf. Safe only once every pin derived from
  // `df` is materialized — a pending lazy pin would need these blocks
  // (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
  private def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** The pins of one iterative operator's rounds. Each round is pinned by
    * [[next]] (lazy) or [[now]] (eager); the older rounds are released
    * once the newest is materialized, which is the only safe order:
    *  - a loop that runs an action on every round calls [[read]] right
    *    after it (an eager [[now]] pin is its own action);
    *  - a loop with no action per round only calls [[next]]: once `K + 1`
    *    rounds are held, one job forces the newest (it computes the whole
    *    pending cascade) and the older rounds are released.
    * [[done]] forces a still-pending newest round, releases the older
    * rounds and the loop's own inputs; the newest round stays pinned. */
  final class Rounds {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var pending = false

    def next(df: DataFrame): DataFrame = {
      val p = Pin(df)
      if (!off) { held += p; pending = true; if (held.size > K) done() }
      p
    }

    def now(df: DataFrame): DataFrame = {
      val p = Pin.now(df)
      if (!off) { held += p; read() }
      p
    }

    /** The newest round has been read by an action: release the others. */
    def read(): Unit = {
      while (held.size > 1) release(held.remove(0))
      pending = false
    }

    def done(inputs: DataFrame*): Unit = if (!off) {
      // no row-level action: just compute and keep every partition
      if (pending) atCaller(held.last)(held.last.queryExecution.toRdd.foreachPartition(_ => ()))
      read()
      inputs.foreach(release)
    }
  }
}
