package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Pin]]: what stays pinned (persistent RDDs) while and after iterative
  * operators run, the order in which rounds are released, the lineage test
  * hook, and the source rules: only util.scala pins, unpersists or
  * awaits a lane, and only manifest.scala reads parquet footers. */
class PinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def persistent(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddOf(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not a pinned frame: $p")
  }

  /** Persistent RDDs `body` leaves behind, with its result. */
  private def grown[A](body: => A): (A, Set[Int]) = {
    val before = persistent()
    val out = body
    (out, persistent() -- before)
  }

  test("Rounds holds at most K + 1 round pins across 12 rounds with no per-round action") {
    val before = persistent()
    val held = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rounds = new Pin.Rounds
    var df = rounds.next(spark.range(200).select(($"id" % 7).as("k"), $"id".as("v")))
    (1 to 12).foreach { _ =>
      df = rounds.next(df.repartition(3, $"k").select($"k", ($"v" + 1).as("v")))
      held += (persistent() -- before).size
    }
    rounds.done()
    // K rounds pending (plus the last forced one) at most; the K + 1-th
    // forces the newest and releases the rest
    assert(held == (1 to 12).map(i => i % Pin.K + 1), s"pins held per round: $held")
    assert(persistent() -- before == Set(rddOf(df)))
    assert(df.agg(sum($"v")).head().getLong(0) == (0L until 200L).sum + 200L * 12)
  }

  test("iterative operators release superseded rounds only after the next one is materialized") {
    // each call re-reads its result after returning: a round released
    // before its successor was computed fails with
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND here
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (clusters, cGrown) = grown(ops.Dedup.resolveClusters(path, maxIters = 15))
    assert(clusters.collect().forall(_.getLong(1) == 0L))
    assert(cGrown.size == 1, s"resolveClusters keeps its last round only: $cGrown")

    val docs = Seq("lower lowest newer newest widest", "low lower newer wider",
      "lowest newest wider widest").toDF("text")
    val (merges, bGrown) = grown(ops.Bpe.learnMergesBatched(docs, "text", 6, batch = 1))
    assert(merges.size >= 3, s"needs >= 3 rounds: $merges")
    assert(bGrown.size == 1, s"the trainer keeps its last vocab only: $bGrown")

    val vecs = (0 until 64).map(i =>
      (i.toLong, Seq.tabulate(4)(d => math.sin(i * 7.0 + d) + (i % 4)))).toDF("vec_id", "vec")
    val seed = ops.Pq.seedCodebook(vecs, "vec_id", "vec", m = 2, k = 4)
    val (cb, pGrown) = grown(ops.Pq.trainPq(vecs, "vec", seed, iters = 10))
    val stepwise = (1 to 10).foldLeft(seed)((c, _) => ops.Pq.trainPq(vecs, "vec", c, iters = 1))
    cb.flatten.flatten.zip(stepwise.flatten.flatten).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    assert(pGrown.size == 1, s"trainPq keeps its last codebook only: $pGrown")
  }

  test("pageRank(iters = 12) leaves exactly its output pinned and ranks match the reference") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "c"), ("e", "e"))
      .toDF("s", "t")
    val (ranks, added) = grown(ops.Graph.pageRank(edges, "s", "t", iters = 12))
    assert(added == Set(rddOf(ranks)), s"persistent RDDs left behind: $added")
    val got = ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // reference power iteration (the GraphSpec oracle's update rule)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "c"), ("e", "e"))
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val out = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    (0 until 12).foreach { _ =>
      val dm = nodes.filterNot(out.contains).map(r).sum
      val c = nodes.map(v => v -> out.collect {
        case (s, ds) if ds.contains(v) => r(s) / ds.size }.sum).toMap
      r = nodes.map(v => v -> ((1.0 - 0.85) / n + 0.85 * (c(v) + dm / n))).toMap
    }
    assert(got.keySet == r.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - r(k)) < 1e-12, s"$k: $v vs ${r(k)}") }
  }

  test("under Pin.lineage a pin adds no persistent RDD and returns its input") {
    val df = spark.range(50).toDF("x")
    val (_, added) = grown(Pin.lineage {
      assert(Pin(df) eq df)
      assert(Pin.now(df) eq df)
      val rounds = new Pin.Rounds
      var r = rounds.next(df)
      (1 to 6).foreach(_ => r = rounds.next(r.select(($"x" + 1).as("x"))))
      rounds.done(df)
      assert(r.count() == 50)
      ops.Graph.pageRank(Seq(("a", "b")).toDF("s", "t"), "s", "t", iters = 2).count()
    })
    assert(added.isEmpty, s"pins under lineage: $added")
  }

  test("a pin's jobs carry the caller's call site, not util.scala's") {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.add(String.valueOf(e.properties.getProperty("callSite.short")))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Pin.now(spark.range(10).toDF("x")).count()
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    val all = scala.jdk.CollectionConverters.IteratorHasAsScala(sites.iterator()).asScala.toSeq
    assert(all.headOption.exists(_.startsWith("localCheckpoint at PinSpec.scala:")), all)
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
  }

  test("source rules: each guarded call appears only in its allowed file") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala")).map(f =>
      f -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    // pattern -> the only file that may contain it (None: no file)
    val rules = Seq(
      ".localCheckpoint(" -> Some("graft/util.scala"), // pin through graft.Pin
      ".unpersist(" -> Some("graft/util.scala"),
      "mergeSchema" -> None, // every read takes the manifest's merged schema
      "ParquetFileReader" -> Some("graft/manifest.scala"), // footers: Manifest only
      "footerSchema(" -> Some("graft/manifest.scala"),
      // one stream source and one runner: EventStream.files / availableNow
      ".readStream" -> Some("graft/streaming/EventStream.scala"),
      ".foreachBatch" -> Some("graft/streaming/EventStream.scala"),
      "Trigger.AvailableNow" -> Some("graft/streaming/EventStream.scala"),
      // driver-side lanes run on graft.Par: no hand-rolled Future/Await
      "Await.result" -> Some("graft/util.scala"))
    val offenders = for {
      (pattern, only) <- rules
      (f, src) <- sources if src.contains(pattern) && !only.exists(f.getPath.endsWith)
    } yield s"$pattern in $f"
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
