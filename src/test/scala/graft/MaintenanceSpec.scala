package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Table-maintenance suite: small-file compaction, orphan GC, snapshot
  * expiry, and the changed-buckets (CDC-lite) API — the operations a
  * 100 TB table needs continuously, exercised on the manifest layer. */
class MaintenanceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_maint_").toString

  private def tableState(m: Manifest): Map[String, Seq[(String, String, String, Int)]] =
    m.readData(spark).as[ExtractedDoc].collect()
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq)
      .toMap

  test("compaction merges multi-file buckets, preserves content byte-for-byte; GC is decoupled") {
    val dir = freshDir()
    // numPartitions ≫ buckets — the realistic layout: multiple files/bucket
    val s0 = ExtractJob.run(spark, DocGen.generate(spark, 800, 8), dir, "frag",
      resume = false, numPartitions = 64)
    val m = new Manifest(dir)
    assert(s0.buckets.exists(_.files.length > 1), "setup must fragment buckets")
    val golden = tableState(m)

    val s1 = ExtractJob.compact(spark, dir)
    assert(s1.id == s0.id + 1)
    assert(s1.buckets.forall(_.files.length == 1),
      s1.buckets.map(b => b.bucket -> b.files.length).toString)
    // rows/watermarks carried over unchanged
    assert(s1.buckets.map(b => (b.bucket, b.rows, b.watermarkDocId)) ==
      s0.buckets.map(b => (b.bucket, b.rows, b.watermarkDocId)))
    // content identical through the manifest-planned read
    assert(tableState(m) == golden)
    // compact deletes NOTHING (a reader pinning the pre-compaction snapshot
    // may still be mid-scan): old files survive as visible orphans until a
    // separate maintenance pass removes them after a grace period
    assert(m.orphanFiles().nonEmpty,
      "pre-compaction files must remain readable until explicit GC")
    val preCompactionFiles = s0.buckets.flatMap(_.files)
    assert(preCompactionFiles.forall(f => Files.exists(
      java.nio.file.Paths.get(f.stripPrefix("file:")))))
    m.removeOrphans()
    assert(m.orphanFiles().isEmpty)
    assert(tableState(m) == golden)
    // idempotent: already-compact table is a no-op
    assert(ExtractJob.compact(spark, dir).id == s1.id)
    // compaction is a LOGICAL no-op: CDC must not report rewritten buckets
    assert(m.changedBuckets(s0.id).isEmpty,
      "file-only rewrites must not trigger downstream reprocessing")
  }

  test("time travel: pinned pre-compaction snapshot reads identical bytes; grace-period GC protects it") {
    val dir = freshDir()
    val s0 = ExtractJob.run(spark, DocGen.generate(spark, 400, 8), dir, "tt",
      resume = false, numPartitions = 32)
    val m = new Manifest(dir)
    val golden = tableState(m)
    val s1 = ExtractJob.compact(spark, dir)
    assert(s1.id == s0.id + 1)
    def pinned() = m.readData(spark, asOf = Some(s0.id)).as[ExtractedDoc].collect()
      .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq)
      .toMap
    // the pinned read plans from the OLD snapshot's files and sees the
    // pre-compaction bytes even though HEAD moved
    assert(pinned() == golden)
    // grace-period GC (grace ≥ the longest pinned reader) removes nothing
    // recent → the pin keeps working
    assert(m.removeOrphans(olderThanMs = 3600L * 1000).isEmpty)
    assert(pinned() == golden)
    // full GC deletes the old files: the pinned read fails LOUDLY at scan
    // time (never silently falls back to HEAD); HEAD itself is intact
    m.removeOrphans()
    intercept[Exception](pinned())
    assert(tableState(m) == golden)
    // an EXPIRED snapshot id fails loudly too
    m.expireSnapshots(keepLast = 1)
    intercept[Exception](m.readData(spark, asOf = Some(s0.id)))
  }

  test("default compact FAILS FAST on mixed-schema bucket namespaces instead of corrupting one") {
    import org.apache.spark.sql.functions._
    val dir = freshDir() + "/t"
    val m = new Manifest(dir)
    // bucket 0: (doc_id, text) ×2 files; bucket 1: (doc_id, h) ×2 files —
    // the indexed-corpus-table shape, built directly through the manifest
    import spark.implicits._
    def writeTwice(bucket: Int, df: org.apache.spark.sql.DataFrame): Seq[String] = {
      df.coalesce(1).write.mode("append").parquet(s"$dir/data/bucket=$bucket")
      df.coalesce(1).write.mode("append").parquet(s"$dir/data/bucket=$bucket")
      m.listBucketFiles(bucket)
    }
    val f0 = writeTwice(0, Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"))
    val f1 = writeTwice(1, Seq((1L, "h1"), (2L, "h2")).toDF("doc_id", "h"))
    m.commit("mixed", Seq(
      Manifest.BucketState(0, 4, "2", f0), Manifest.BucketState(1, 4, "2", f1)))
    // one combined rewrite would null-fill one namespace and then GC the
    // originals — the guard must refuse before any write happens
    val e = intercept[IllegalArgumentException](ExtractJob.compact(spark, dir))
    assert(e.getMessage.contains("different"), e.getMessage)
    // per-namespace compaction is the supported path
    ExtractJob.compact(spark, dir, only = Some(Set(0)))
    ExtractJob.compact(spark, dir, only = Some(Set(1)))
    val head = m.head().get
    assert(head.buckets.forall(_.files.length == 1))
    assert(m.readData(spark, Some(Set(0))).drop("bucket")
      .as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "alpha"), (1L, "alpha"), (2L, "beta"), (2L, "beta")).sorted)
  }

  test("a rerun over fewer docs does not adopt stale files from the previous run") {
    val dir = freshDir()
    // run A fills all 16 buckets
    ExtractJob.run(spark, DocGen.generate(spark, 800, 8), dir, "a", resume = false)
    // run B (fresh, resume=false) has only 3 docs → most buckets get zero
    // rows; run A's leftover files in those buckets must NOT become run B's
    // lineage (dynamic overwrite never touched those directories)
    val sB = ExtractJob.run(spark, DocGen.generate(spark, 3, 2), dir, "b", resume = false)
    val m = new Manifest(dir)
    assert(sB.buckets.map(_.rows).sum == 3, sB.buckets.map(_.rows).toString)
    sB.buckets.filter(_.rows == 0).foreach { b =>
      assert(b.files.isEmpty && b.watermarkDocId == "",
        s"bucket ${b.bucket} adopted stale files: ${b.files}")
    }
    assert(m.readData(spark).count() == 3)
    // run A's unreferenced leftovers are visible as orphans and removable
    assert(m.orphanFiles().nonEmpty)
    // a grace period protects fresh orphans (in-flight readers pinning the
    // previous snapshot); these files are seconds old → kept under 1h grace
    assert(m.orphanFiles(olderThanMs = 3600L * 1000).isEmpty)
    assert(m.removeOrphans(olderThanMs = 3600L * 1000).isEmpty)
    assert(m.orphanFiles().nonEmpty, "grace-period GC must not delete fresh orphans")
    m.removeOrphans()
    assert(m.orphanFiles().isEmpty)
    assert(m.readData(spark).count() == 3)
  }

  test("compaction honors targetFilesPerBucket > 1") {
    val dir = freshDir()
    ExtractJob.run(spark, DocGen.generate(spark, 800, 8), dir, "frag2",
      resume = false, numPartitions = 64)
    val m = new Manifest(dir)
    val golden = tableState(m)
    val s1 = ExtractJob.compact(spark, dir, targetFilesPerBucket = 2)
    assert(s1.buckets.forall(b => b.files.length <= 2 && b.files.nonEmpty))
    assert(tableState(m) == golden)
    m.removeOrphans() // decoupled GC (see compact scaladoc)
    assert(m.orphanFiles().isEmpty)
  }

  test("clustered compaction (OPTIMIZE ZORDER analog): content identical, files prune on BOTH dims") {
    import org.apache.spark.sql.functions._
    val dir = freshDir() + "/t"
    val m = new Manifest(dir)
    // 64x64 grid in bucket 0, fragmented across 32 files in row order —
    // the layout an append-heavy ingest leaves behind: no file is tight on
    // either query dimension
    val n = 64 * 64
    val grid = spark.range(n).select(
      ($"id" % 64).as("x"), ($"id" / 64).cast("bigint").as("y"),
      $"id".as("payload"))
    grid.repartition(32).write.mode("append").parquet(s"$dir/data/bucket=0")
    m.commit("ingest", Seq(
      Manifest.BucketState(0, n, "g", m.listBucketFiles(0))))
    val golden = (0L until n.toLong)

    val s1 = ExtractJob.compact(spark, dir, targetFilesPerBucket = 16,
      cluster = Seq(col("x"), col("y")), clusterBits = 6)
    // rows/watermark carried over; content identical through the manifest read
    assert(s1.buckets.map(b => (b.bucket, b.rows, b.watermarkDocId)) ==
      Seq((0, n.toLong, "g")))
    assert(m.readData(spark).select($"payload").as[Long]
      .collect().sorted.toSeq == golden)
    // old files decoupled-GC'd as usual, then audit the committed layout
    m.removeOrphans()
    assert(m.orphanFiles().isEmpty)
    val env = ops.Zorder.fileEnvelopes(spark, s"$dir/data/bucket=0", Seq("x", "y"))
      .collect()
    val total = env.length
    assert(total >= 8, s"range exchange should split bucket 0, got $total files")
    def touched(c: String, lo: Long, hi: Long): Int = env.count { r =>
      r.getAs[Long](s"max_$c") >= lo && r.getAs[Long](s"min_$c") <= hi
    }
    // a 4-wide band on EITHER dimension touches a strict minority of files
    // (the row-ordered ingest layout and the single-column sort both read
    // 100% of files on at least one of the two dims — ZorderSpec measures
    // those baselines)
    assert(touched("x", 10, 13) <= total / 2, s"x band: ${touched("x", 10, 13)}/$total")
    assert(touched("y", 10, 13) <= total / 2, s"y band: ${touched("y", 10, 13)}/$total")
    // clustering is eligible even when the bucket is already 1 file: it is
    // a LAYOUT pass, not a small-file merge — a second clustered compact
    // still rewrites (and stays content-identical)
    val s2 = ExtractJob.compact(spark, dir, targetFilesPerBucket = 16,
      cluster = Seq(col("x"), col("y")), clusterBits = 6)
    assert(s2.id == s1.id + 1)
    assert(m.readData(spark).select($"payload").as[Long]
      .collect().sorted.toSeq == golden)
  }

  test("changedBuckets reports exactly the bucket states that differ from a snapshot") {
    val dir = freshDir()
    val m = new Manifest(dir)
    m.commit("a", Seq(Manifest.BucketState(0, 10, "d1", Seq("f0")),
      Manifest.BucketState(1, 20, "d2", Seq("f1"))))
    m.commit("b", Seq(Manifest.BucketState(1, 25, "d9", Seq("f1b")),
      Manifest.BucketState(2, 5, "d3", Seq("f2"))))
    val changed = m.changedBuckets(0).map(_.bucket)
    assert(changed == Seq(1, 2), changed.toString) // 0 untouched, 1 updated, 2 new
  }

  test("expireSnapshots prunes history but never the current snapshot") {
    val dir = freshDir()
    val m = new Manifest(dir)
    (0 until 3).foreach(i => m.commit(s"r$i", Seq(Manifest.BucketState(i, 1, s"d$i"))))
    val dropped = m.expireSnapshots(keepLast = 1)
    assert(dropped.toSet == Set("snap-0.json", "snap-1.json"))
    val h = m.head().get
    assert(h.id == 2 && h.buckets.map(_.bucket) == Seq(0, 1, 2),
      "current snapshot must stay complete after expiry")
  }

  test("copy-on-write delete removes keyed rows, leaves unhit buckets' files untouched; the forget recipe scrubs the bytes") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    val s0 = ExtractJob.run(spark, DocGen.generate(spark, 800, 8), dir, "del",
      resume = false, numPartitions = 16)
    val m = new Manifest(dir)
    val golden = tableState(m)

    // doom 5 real ids + 1 absent one; record which buckets hold them
    val doomed = golden.keys.toSeq.sorted.take(5)
    val bucketOf = m.readData(spark).select(col("bucket"), col("doc_id"))
      .as[(Int, String)].collect().map(p => p._2 -> p._1).toMap
    val hitBuckets = doomed.map(bucketOf).toSet
    val keys = (doomed :+ "no-such-doc").toDF("doc_id")

    val s1 = ExtractJob.deleteByKey(spark, dir, keys, "doc_id")
    assert(s1.id == s0.id + 1)
    // content: golden minus exactly the doomed rows
    assert(tableState(m) == (golden -- doomed))
    // bookkeeping: per-bucket rows dropped by the per-bucket hit counts
    assert(s1.buckets.map(_.rows).sum == s0.buckets.map(_.rows).sum - doomed.length)
    // blast radius: buckets without a doomed key keep their EXACT files
    // (no gratuitous rewrite), hit buckets got fresh ones
    val f0 = s0.buckets.map(b => b.bucket -> b.files).toMap
    s1.buckets.foreach { b =>
      if (hitBuckets(b.bucket)) assert(b.files != f0(b.bucket), s"bucket ${b.bucket}")
      else assert(b.files == f0(b.bucket), s"bucket ${b.bucket} must be untouched")
    }
    // watermarks never regress on delete (monotone resume contract)
    assert(s1.buckets.map(b => b.bucket -> b.watermarkDocId).toMap ==
      s0.buckets.map(b => b.bucket -> b.watermarkDocId).toMap)

    // deleting only absent keys is a no-op: NO new snapshot
    val s2 = ExtractJob.deleteByKey(spark, dir,
      Seq("still-absent").toDF("doc_id"), "doc_id")
    assert(s2.id == s1.id, "a no-hit delete must not commit")

    // pre-delete files are orphans (COW), pinned history still reads them;
    // then the full forget recipe — expire + GC — scrubs the bytes: no
    // surviving parquet file under the table contains a doomed id
    assert(m.orphanFiles().nonEmpty)
    assert(m.readData(spark, asOf = Some(s0.id)).count() == golden.size.toLong)
    m.expireSnapshots(keepLast = 1)
    assert(m.removeOrphans().nonEmpty)
    val survivors = spark.read
      .option("basePath", s"$dir/data").parquet(s"$dir/data")
      .select(col("doc_id")).as[String].collect().toSet
    assert(doomed.forall(!survivors.contains(_)), "forget recipe must scrub the bytes")
    assert(survivors == (golden.keySet -- doomed))
  }

  test("history lists exactly the retained snapshots, oldest first") {
    val dir = freshDir()
    val m = new Manifest(dir)
    assert(m.history().isEmpty)
    (0 until 4).foreach(i => m.commit(s"r$i", Seq(Manifest.BucketState(0, i + 1L, s"d$i"))))
    assert(m.history().map(s => (s.id, s.parent, s.runId)) ==
      Seq((0, -1, "r0"), (1, 0, "r1"), (2, 1, "r2"), (3, 2, "r3")))
    m.expireSnapshots(keepLast = 2)
    // history == what time travel / rollback can still reach
    assert(m.history().map(_.id) == Seq(2, 3))
    assert(m.rollback(2).id == 4)
    assert(m.history().map(_.id) == Seq(2, 3, 4))
  }

  test("zone maps refuse non-ASCII bounds; ASCII bounds round-trip exactly") {
    val dir = freshDir()
    val conf = spark.sessionState.newHadoopConf()
    def firstParquet(p: String) =
      new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet"))
        .head.toString
    // supplementary (U+1F600) vs U+FB00: Java String order and parquet's
    // UTF-8 byte order DISAGREE on these — the stat must be refused so
    // the file stays always-planned
    Seq("😀a", "ﬀb").toDF("doc_id")
      .coalesce(1).write.parquet(s"$dir/nonascii")
    assert(Manifest.footerIdRange(conf, firstParquet(s"$dir/nonascii"),
      "doc_id").isEmpty)
    // plain ASCII ids: exact bounds recorded
    Seq("d003", "d001", "d002").toDF("doc_id")
      .coalesce(1).write.parquet(s"$dir/ascii")
    assert(Manifest.footerIdRange(conf, firstParquet(s"$dir/ascii"),
      "doc_id") == Some(("d001", "d003")))
  }

  test("incremental read delivers appended files exactly once; rewrites refuse loudly; bootstrap reads all") {
    import org.apache.spark.sql.functions.col
    val dir = freshDir()
    val s0 = ExtractJob.run(spark, DocGen.generate(spark, 300, 8), dir, "base",
      resume = false, numPartitions = 8)
    val m = new Manifest(dir)

    // append commit, the stream way: extract 100 MORE docs, write them
    // beside the existing files, commit the per-bucket lineage delta
    val before = s0.buckets.map(b => b.bucket -> b.files.toSet).toMap
    val extra = ExtractJob.transform(
      DocGen.generate(spark, 400, 8).where($"doc_id" >= "d0000000300").as[RawDoc]).toDF()
    extra.write.mode("append").partitionBy("bucket").parquet(s"$dir/data")
    val extraRows = extra.groupBy(col("bucket")).count()
      .as[(Int, Long)].collect().toMap
    val s1 = m.commit("append", s0.buckets.map { b =>
      val fresh = m.listBucketFiles(b.bucket).filterNot(before(b.bucket))
      b.copy(rows = b.rows + extraRows.getOrElse(b.bucket, 0L),
        files = b.files ++ fresh)
    })

    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).as[String].collect().toSet
    // exactly the appended rows — never the base table
    val inc = m.readAppended(spark, fromId = s0.id)
    assert(ids(inc) == ids(m.readData(spark)) -- ids(m.readData(spark, asOf = Some(s0.id))))
    assert(inc.count() == 100L)
    // bootstrap (-1) == full read; same-snapshot window is empty
    assert(ids(m.readAppended(spark, -1)) == ids(m.readData(spark)))
    assert(m.readAppended(spark, s0.id, Some(s0.id)).count() == 0L)

    // a rewrite commit (compaction) breaks the append diff — refuse
    ExtractJob.compact(spark, dir)
    val ex = intercept[IllegalArgumentException] {
      m.readAppended(spark, s1.id)
    }
    assert(ex.getMessage.contains("rewrite commit"))
    // the auditing override reads the raw added (rewritten) files
    assert(m.readAppended(spark, s1.id, allowRewrites = true).count() == 400L)
  }

  test("rollback reverts data forward-only; GC bounds the window; resharded layouts refuse") {
    val dir = freshDir()
    val s0 = ExtractJob.run(spark, DocGen.generate(spark, 400, 8), dir, "rb",
      resume = false, numPartitions = 8)
    val m = new Manifest(dir)
    val golden = tableState(m)

    // a bad delete lands; rollback restores the exact pre-delete content
    val doomed = golden.keys.toSeq.sorted.take(20)
    val s1 = ExtractJob.deleteByKey(spark, dir, doomed.toDF("doc_id"), "doc_id")
    assert(tableState(m) == (golden -- doomed))
    val s2 = m.rollback(s0.id)
    assert(s2.id == s1.id + 1, "rollback is a forward commit, not history surgery")
    assert(tableState(m) == golden)
    // the reverted-away state stays time-travelable until expiry
    assert(m.readData(spark, asOf = Some(s1.id)).count() ==
      (golden.size - doomed.size).toLong)
    // zone maps rode along verbatim — ranged planning still prunes
    assert(m.planFiles(m.head().get, idRange = Some(("d0000000000", "d0000000010")))
      .length < m.planFiles(m.head().get).length)

    // a second delete, then expire history + GC: the delete's orphaned
    // pre-state is gone, so rolling back PAST it must fail loudly
    val s3 = ExtractJob.deleteByKey(spark, dir,
      golden.keys.toSeq.sorted.slice(30, 40).toDF("doc_id"), "doc_id")
    m.expireSnapshots(keepLast = 1)
    assert(m.removeOrphans().nonEmpty)
    intercept[Exception] { m.rollback(s2.id) } // snapshot file expired
    assert(tableState(m).keySet ==
      golden.keySet -- golden.keys.toSeq.sorted.slice(30, 40))

    // bucket-layout change (reshard analog): hand-commit a state with an
    // extra bucket — rollback across it is refused
    val h = m.head().get
    m.commit("layout-change", h.buckets :+
      Manifest.BucketState(999, 0, ""))
    val ex = intercept[IllegalArgumentException] { m.rollback(s3.id) }
    assert(ex.getMessage.contains("layout changed"))
  }

  test("file-granular delete: only the files that CONTAIN doomed ids are rewritten; stats pruning never changes the outcome") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    def norm(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    def build(): (String, Manifest, Manifest.Snapshot) = {
      val dir = freshDir()
      // 24 partitions × 16 buckets → ~24 small files per bucket, each
      // covering a tight contiguous doc-index slice (the layout where
      // file-granular COW pays: a doomed id lives in exactly one file)
      val s = ExtractJob.run(spark, DocGen.generate(spark, 1200, 24), dir,
        "fg", resume = false, numPartitions = 24)
      (dir, new Manifest(dir), s)
    }
    val (dir, m, s0) = build()
    val golden = tableState(m)

    // ground truth: which physical file holds each doc
    val fileOf = m.readData(spark)
      .select(col("doc_id"), input_file_name().as("f"))
      .as[(String, String)].collect().map(p => p._1 -> norm(p._2)).toMap
    val doomed = Seq("d0000000123", "d0000000456", "d0000000789")
    assert(doomed.forall(fileOf.contains))
    val expectedRewritten = doomed.map(fileOf).toSet

    val s1 = ExtractJob.deleteByKey(spark, dir, doomed.toDF("doc_id"), "doc_id")
    assert(tableState(m) == (golden -- doomed))

    // blast radius: the removed lineage is EXACTLY the containing files —
    // candidates whose zone map merely straddles a doomed id survive
    val f0 = s0.buckets.map(b => b.bucket -> b.files.map(norm).toSet).toMap
    val f1 = s1.buckets.map(b => b.bucket -> b.files.map(norm).toSet).toMap
    val removed = f0.flatMap { case (b, fs) => fs -- f1.getOrElse(b, fs) }.toSet
    assert(removed == expectedRewritten,
      s"removed $removed, expected $expectedRewritten")
    // one coalesced replacement file per hit bucket, nothing else fresh
    val fresh = f1.flatMap { case (b, fs) => fs -- f0(b) }.toSet
    val hitBuckets = expectedRewritten.map(f =>
      fileOf.collectFirst { case (id, ff) if ff == f => id }.get)
      .map(id => s0.buckets.find(_.files.map(norm).contains(fileOf(id))).get.bucket)
    assert(fresh.size == hitBuckets.size)

    // untouched files keep their zone maps VERBATIM; fresh files get stats
    val st0 = s0.buckets.flatMap(_.stats).map(s => norm(s.file) -> s).toMap
    s1.buckets.foreach { b =>
      assert(b.stats.map(s => norm(s.file)).toSet == b.files.map(norm).toSet)
      b.stats.filter(s => f0(b.bucket).contains(norm(s.file))).foreach { s =>
        assert(st0(norm(s.file)).copy(file = s.file) == s) }
    }

    // stats-stripped parity: the SAME delete over a snapshot with no zone
    // maps (every file a candidate) reaches the identical table state and
    // rewrites the identical files — pruning is invisible to outcomes
    val (dir2, m2, h2) = build()
    m2.commit("strip-stats", h2.buckets.map(_.copy(stats = Nil)))
    val h2s = m2.head().get
    val s2 = ExtractJob.deleteByKey(spark, dir2, doomed.toDF("doc_id"), "doc_id")
    assert(tableState(m2) == (golden -- doomed))
    val r2 = h2s.buckets.map(b => b.files.map(norm).toSet).reduce(_ ++ _) --
      s2.buckets.map(b => b.files.map(norm).toSet).reduce(_ ++ _)
    // file NAMES differ between the two builds (task UUIDs); the stable
    // identity of a file is its (bucket, id-range) slice — compare those
    def rangesOf(files: Set[String], snap: Manifest.Snapshot) =
      snap.buckets.flatMap(b => b.stats
        .filter(s => files.contains(norm(s.file)))
        .map(s => (b.bucket, s.minId, s.maxId))).toSet
    assert(r2.size == removed.size)
    assert(rangesOf(r2, h2) == rangesOf(removed, s0),
      "stats-stripped delete must rewrite the same file SLICES")
  }

  test("zone maps: extract commit records per-file id stats; ranged reads prune files, lose nothing") {
    val dir = freshDir()
    // many input partitions → several files per bucket, each covering a
    // CONTIGUOUS doc-index slice (spark.range splits by index) → tight
    // per-file id ranges, the layout stats pruning exists for
    val s0 = ExtractJob.run(spark, DocGen.generate(spark, 1200, 24), dir, "zm",
      resume = false, numPartitions = 24)
    val m = new Manifest(dir)

    // every committed file carries a footer-derived stat, and the stats
    // survive the JSON round trip (fresh Manifest → fresh HEAD parse)
    val head = new Manifest(dir).head().get
    head.buckets.filter(_.rows > 0).foreach { b =>
      assert(b.stats.map(_.file).toSet == b.files.toSet, s"bucket ${b.bucket}")
      b.stats.foreach(s => assert(s.minId <= s.maxId))
    }
    assert(head.buckets.flatMap(_.stats) == s0.buckets.flatMap(_.stats))

    // a narrow range plans strictly fewer files than the full scan...
    val all = m.planFiles(head)
    val lo = "d0000000100"; val hi = "d0000000140"
    val pruned = m.planFiles(head, idRange = Some((lo, hi)))
    assert(pruned.nonEmpty && pruned.length < all.length,
      s"pruning must bite: ${pruned.length} of ${all.length}")

    // ...and the ranged read + row predicate returns EXACTLY the rows the
    // full scan's predicate returns (pruning is invisible to content)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.where($"doc_id".between(lo, hi)).as[ExtractedDoc].collect()
        .map(d => d.doc_id -> d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq)
        .toMap
    val viaPruned = rows(m.readData(spark, idRange = Some((lo, hi))))
    assert(viaPruned == rows(m.readData(spark)))
    assert(viaPruned.nonEmpty)
    assert(viaPruned.keySet.forall(id => id >= lo && id <= hi))

    // a file with NO recorded stat is never pruned (absence degrades
    // pruning, not correctness): strip one stat and its file must be
    // planned even for a range the stat would have excluded
    val b0 = head.buckets.find(b => b.stats.nonEmpty).get
    val victim = b0.stats.maxBy(_.minId) // the latest-id file: disjoint from a tiny-id range
    val stripped = head.copy(buckets = head.buckets.map(b =>
      if (b.bucket == b0.bucket) b.copy(stats = b.stats.filterNot(_ == victim)) else b))
    val tiny = m.planFiles(stripped, idRange = Some(("d0000000000", "d0000000001")))
    assert(tiny.contains(victim.file), "statless file must always be planned")
    assert(!m.planFiles(head, idRange = Some(("d0000000000", "d0000000001")))
      .contains(victim.file), "with its stat present the same file is pruned")

    // compaction re-derives zone maps for the rewritten files — a
    // stats-pruned table never degrades under maintenance
    val s1 = ExtractJob.compact(spark, dir)
    assert(s1.id == s0.id + 1)
    s1.buckets.filter(_.rows > 0).foreach { b =>
      assert(b.stats.map(_.file).toSet == b.files.toSet, s"post-compact bucket ${b.bucket}")
    }
    assert(rows(m.readData(spark, idRange = Some((lo, hi)))) == viaPruned)

    // a rule-change backfill rewrites whole buckets through the same
    // commit path, so its fresh files get zone maps too
    val s2 = ExtractJob.backfill(spark, DocGen.generate(spark, 1200, 24), dir, "zm-bf",
      newRules = Registry.rules.filterNot(_.name == "albumhost"))
    assert(s2.id == s1.id + 1)
    assert(s2.buckets.exists(b => b.files.toSet != s1.buckets.find(_.bucket == b.bucket)
      .get.files.toSet), "the backfill must rewrite at least one bucket")
    new Manifest(dir).head().get.buckets.filter(_.rows > 0).foreach { b =>
      assert(b.stats.map(_.file).toSet == b.files.toSet, s"post-backfill bucket ${b.bucket}")
    }
    // the rule change may rewrite refs inside the range, never which docs it holds
    val viaPrunedBf = rows(m.readData(spark, idRange = Some((lo, hi))))
    assert(viaPrunedBf == rows(m.readData(spark)))
    assert(viaPrunedBf.keySet == viaPruned.keySet)
  }
}
