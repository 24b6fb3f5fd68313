package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Schemas
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Snapshot manifest — the Iceberg-emulation layer (SURVEY.md §7.4).
  *
  * No Iceberg runtime jar exists in the sandbox (SURVEY.md §0.3), so the
  * subset the north rule actually exercises — snapshot + per-partition
  * watermark + lineage for mid-run resume — is implemented directly:
  *
  * {{{
  * <tableDir>/data/bucket=K/part-*.parquet   // dynamic-overwrite per bucket
  * <tableDir>/metrics/...parquet             // metrics side table
  * <tableDir>/meta/snap-<n>.json             // snapshot: parent + completed buckets + data files
  * <tableDir>/meta/HEAD                      // pointer to current snap
  * }}}
  *
  * All manifest I/O goes through `org.apache.hadoop.fs.FileSystem` resolved
  * from `tableDir`, so the same code works on file://, hdfs:// and s3a://
  * (the spark-submit multi-executor deployment this targets) — never
  * java.nio against the driver's local disk.
  *
  * Writers: every write-then-commit goes through one [[Manifest.Txn]] —
  * open it over the buckets about to be written (one listing), write,
  * stage each bucket as an `append` or a `replace`, commit. The Txn is the
  * only place that diffs listings, reads the fresh files' footers (row
  * counts + doc_id zone maps) and calls [[Manifest.commit]].
  *
  * Commit protocol: write `snap-<n+1>.json`, write `.HEAD.tmp.<n+1>`, then
  * swap it over HEAD via rename. HDFS rename is atomic but refuses an
  * existing destination, so the swap is delete(HEAD) + rename(tmp, HEAD);
  * the crash window between the two is covered by [[Manifest.head]]'s
  * recovery path: with no HEAD, the highest-numbered snap file is current
  * (snapshot ids are monotone and a snap file is fully written before the
  * swap starts). Bucket data writes are idempotent per-bucket overwrites,
  * so re-running pending buckets after any crash converges.
  *
  * Each snapshot additionally records the DATA FILES of every completed
  * bucket, so consumers plan their scan from the manifest
  * ([[Manifest.readData]]) instead of a directory listing — at 100 TB a
  * recursive listing of the data directory is itself a scale bottleneck
  * (and on object stores, not even consistent).
  *
  * Concurrency: one operation = one resolved snapshot. An operation
  * resolves HEAD once and plans every read ([[Manifest.read]]), its
  * [[Manifest.Txn]] and its commit from that snapshot; readers then touch
  * only immutable files, so any number of concurrent readers are safe.
  * A commit lands only on the parent it was planned from: it re-reads
  * HEAD just before writing and, if another writer committed in between,
  * fails with an [[IllegalStateException]] naming the table, the expected
  * and the found snapshot ids, and commits nothing (its files stay
  * GC-able orphans; re-plan from the new HEAD). The check narrows the
  * two-writer window to the few metadata writes between it and the HEAD
  * swap but does not close it: the plain-FS HEAD swap has no
  * compare-and-swap, so two writers that both pass the check still race,
  * and the later swap wins. Keep ONE writer per table (the standard
  * lakehouse ingest topology — one job owns a table's commit path).
  *
  * Reference analog: qetch has NO resume (it re-downloads from scratch,
  * SURVEY.md §2A O15) — this is a north-rule addition.
  */
object Manifest {
  /** Zone-map entry for one data file: min/max of the table's id column,
    * lifted from the parquet FOOTER at commit time (Iceberg's
    * lower_bounds/upper_bounds analog). The bounds are inclusive and
    * compared as Strings — valid because every id this library writes is
    * ASCII, where parquet's unsigned UTF-8 byte order and String order
    * coincide (the standard Iceberg truncate-transform caveat applies the
    * same way). A file with NO recorded stat is always planned — absence
    * degrades pruning, never correctness. */
  final case class FileStat(file: String, minId: String, maxId: String)

  /** The one column this library records zone maps FOR (the table id the
    * extract/compact/delete writers all key on). Consumers that prune by
    * [[FileStat]] must check their predicate column IS this column —
    * stats describing doc_id say nothing about any other key. */
  val ZoneMapCol = "doc_id"

  /** Lineage record for one completed bucket: row count, doc_id watermark,
    * the parquet data files that materialize it, and (optionally) per-file
    * id zone maps enabling stats-based scan pruning ([[Manifest.readData]]
    * with `idRange`). */
  final case class BucketState(
      bucket: Int, rows: Long, watermarkDocId: String, files: Seq[String] = Nil,
      stats: Seq[FileStat] = Nil)
  /** Hadoop Configuration is not Serializable; this minimal envelope ships
    * it to the footer-reading tasks (the same trick Spark keeps private in
    * its own SerializableConfiguration). */
  private final class SerConf(@transient var value: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false); value.readFields(in)
    }
  }

  /** Min/max of string column `idCol` for ONE parquet file, lifted from
    * its footer's column-chunk statistics — no data pages are read. None
    * when any row group lacks a usable stat (dropped/truncation-suspect
    * stats, all-null chunks, non-binary physical type), or when a bound
    * is not pure ASCII: parquet orders statistics by unsigned UTF-8
    * BYTES while this class compares by Java String (UTF-16 units), and
    * the two orders diverge for strings mixing supplementary and
    * U+E000..U+FFFF characters. With ASCII bounds every later comparison
    * is order-consistent regardless of the other side (the deciding
    * character pair always has an ASCII member), so restricting RECORDED
    * stats to ASCII makes pruning safe for arbitrary ingested ids — a
    * non-ASCII-keyed file simply stays always-planned. An absent stat
    * only disables pruning for that file, never mis-prunes. */
  def footerIdRange(conf: Configuration, file: String, idCol: String): Option[(String, String)] =
    withFooter(conf, file)(idRange(_, idCol))

  private def idRange(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      idCol: String): Option[(String, String)] = {
    import org.apache.parquet.io.api.Binary
    val ranges = footer.getBlocks.asScala.toSeq.map { b =>
      b.getColumns.asScala.find(_.getPath.toDotString == idCol).flatMap { c =>
        val st = c.getStatistics
        if (st == null || st.isEmpty || !st.hasNonNullValue) None
        else (st.genericGetMin, st.genericGetMax) match {
          case (mn: Binary, mx: Binary) =>
            val (lo, hi) = (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
            if (lo.forall(_ < 0x80) && hi.forall(_ < 0x80)) Some((lo, hi))
            else None // non-ASCII bound: String vs UTF-8 order may diverge
          case _ => None
        }
      }
    }
    // one statless row group means the file may hold ids outside the
    // visible range — record nothing rather than an understated bound
    if (ranges.isEmpty || ranges.exists(_.isEmpty)) None
    else Some((ranges.flatten.map(_._1).min, ranges.flatten.map(_._2).max))
  }

  /** What one footer read tells about a parquet file: its exact row
    * count, its [[ZoneMapCol]] zone map and its Spark schema. No data page
    * is read; the writer's footers already carry all three, so a commit
    * needs no count() job and a read no schema job. */
  private final case class FileFooter(rows: Long, stat: Option[FileStat], schema: StructType)

  /** One footer read of `file`. Its schema is exactly what
    * `spark.read.parquet(file).schema` infers: the conversion Spark's
    * inference task runs
    * (`ParquetFileFormat.readSchemaFromFooter`, the writer's recorded
    * Spark schema when present). */
  private def readFooter(conf: Configuration, sql: SQLConf, file: String): FileFooter = {
    import org.apache.parquet.hadoop.Footer
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    withFooter(conf, file) { f =>
      FileFooter(f.getBlocks.asScala.map(_.getRowCount).sum,
        idRange(f, ZoneMapCol).map { case (lo, hi) => FileStat(file, lo, hi) },
        ParquetFileFormat.readSchemaFromFooter(new Footer(new Path(file), f),
          new ParquetToSparkSchemaConverter(sql)))
    }
  }

  // read options built from `conf`, as Spark's own footer reader builds
  // them: the plain `open(file)` overload makes a fresh default Hadoop
  // Configuration per file, which costs ~6 ms against ~0.2 ms for the read
  private def withFooter[T](conf: Configuration, file: String)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => T): T = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf),
      HadoopReadOptions.builder(conf).build())
    try f(r.getFooter) finally r.close()
  }

  /** [[readFooter]] of every file — the one footer pass behind both a
    * commit's row counts and zone maps and a read's schema. The collected
    * result is one small record per file: manifest-sized by construction. */
  private def fileFooters(spark: SparkSession, files: Seq[String]): Map[String, FileFooter] = {
    if (files.isEmpty) return Map.empty
    val sql = spark.sessionState.conf
    // SMALL passes (a read of a few buckets, the steady-state micro-batch
    // or compaction commit) read their footers straight from the driver
    // over a small thread pool — a Spark job would cost a scheduling round
    // trip for a handful of metadata reads. Large ones (tens of thousands
    // of files at a 100 TB backfill) fan out as a metadata-plane job so
    // remote-footer latency is paid in parallel across executors, not
    // serialized on the driver.
    if (files.length <= 32) {
      val conf = spark.sessionState.newHadoopConf()
      Par.par(files.map(f => () => f -> readFooter(conf, sql, f))).toMap
    } else {
      // a SQLConf ships without its settings (they are transient): the
      // tasks rebuild it from the session's explicit entries
      val bc = spark.sparkContext.broadcast(
        (new SerConf(spark.sessionState.newHadoopConf()), sql.getAllConfs))
      spark.sparkContext.parallelize(files, math.max(1, math.min(files.length, 64)))
        .mapPartitions { part =>
          val taskSql = new SQLConf
          bc.value._2.foreach { case (k, v) => taskSql.setConfString(k, v) }
          part.map(f => f -> readFooter(bc.value._1.value, taskSql, f))
        }
        .collect().toMap
    }
  }

  /** The read schema of a set of parquet files, from their footers on the
    * driver when there are at most 32 of them — no Spark job. It equals
    * Spark's schema-merging parquet inference over the same files: the
    * footer schemas folded left to right in path order (Spark sorts the
    * files by path and folds its merge job's partitions in order), in the
    * all-nullable form a file source reports. Files of one schema read
    * exactly that schema; a widened set reads every column, NULL where a
    * file lacks it. */
  def footerSchema(spark: SparkSession, files: Seq[String]): StructType =
    merged(spark, files, fileFooters(spark, files.distinct))

  /** Each bucket's [[footerSchema]], from one footer pass over the files of
    * all of them. Every bucket must have files. */
  def bucketSchemas(spark: SparkSession, buckets: Seq[BucketState]): Seq[StructType] = {
    val footers = fileFooters(spark, buckets.flatMap(_.files).distinct)
    buckets.map(b => merged(spark, b.files, footers))
  }

  private def merged(spark: SparkSession, files: Seq[String],
      footers: Map[String, FileFooter]): StructType =
    Schemas.nullable(files.distinct.sorted.map(footers(_).schema)
      .reduceLeft(Schemas.merge(_, _, spark.sessionState.conf.caseSensitiveAnalysis)))

  /** One write-then-commit of a [[Manifest]] table (Iceberg's transaction
    * API: stage appends and rewrites, then one commit). Opened by
    * [[Manifest.txn]] BEFORE the write, on the `parent` snapshot the
    * operation resolved (None: the table has no commit yet), it lists the
    * named buckets once; the caller then writes into their directories,
    * concurrently if it likes, and stages each bucket's new state:
    *  - [[append]] grows the parent state by the fresh files (rows add,
    *    the watermark takes the max, files and stats extend);
    *  - [[replace]] sets it to the kept parent files plus the fresh files.
    *
    * `fresh(b)` is one listing diff per bucket, taken on first use: the
    * files this transaction wrote, never a stale leftover of a crashed
    * run. [[commit]] reads every staged fresh file's footer once — its
    * row count and its [[ZoneMapCol]] zone map — and commits one
    * snapshot over `parent` — or, when another writer moved HEAD off
    * `parent` since, throws and commits nothing. Nothing is visible
    * before the commit: a writer that throws leaves HEAD untouched and
    * its files as orphans [[Manifest.removeOrphans]] collects. Stage from
    * one thread. */
  final class Txn private[Manifest] (table: Manifest, spark: SparkSession,
      parent: Option[Snapshot], buckets: Seq[Int]) {
    private val states: Map[Int, BucketState] =
      parent.map(_.buckets.map(b => b.bucket -> b).toMap).getOrElse(Map.empty)
    private val before: Map[Int, Set[String]] =
      buckets.map(b => b -> table.listBucketFiles(b).toSet).toMap
    private val listed = mutable.Map.empty[Int, Seq[String]]
    private val footers = mutable.Map.empty[String, FileFooter]
    private val staged = mutable.LinkedHashMap.empty[Int, () => BucketState]

    /** Files this transaction wrote to `bucket` (a bucket named at open). */
    def fresh(bucket: Int): Seq[String] = {
      require(before.contains(bucket),
        s"bucket $bucket was not named when the transaction opened")
      listed.getOrElseUpdate(bucket, table.listBucketFiles(bucket).filterNot(before(bucket)))
    }

    /** Rows this transaction wrote to `bs`, from their files' footers (one
      * read per file, shared with the commit's zone maps). */
    def rows(bs: Seq[Int]): Long = {
      val files = bs.flatMap(fresh)
      footers ++= fileFooters(spark, files.filterNot(footers.contains))
      files.map(footers(_).rows).sum
    }

    private def freshStats(bucket: Int): Seq[FileStat] = fresh(bucket).flatMap(footers(_).stat)

    /** Stage `bucket` as its parent state grown by the fresh files. */
    def append(bucket: Int, watermark: String): Unit = staged(bucket) = { () =>
      val p = states.getOrElse(bucket, BucketState(bucket, 0L, ""))
      BucketState(bucket, p.rows + rows(Seq(bucket)), Seq(p.watermarkDocId, watermark).max,
        p.files ++ fresh(bucket), p.stats ++ freshStats(bucket))
    }

    /** Stage `bucket` as exactly its fresh files (a full rewrite). */
    def replace(bucket: Int, watermark: String): Unit =
      staged(bucket) = () => replaced(bucket, watermark, Nil, rows(Seq(bucket)))

    /** Stage `bucket` as the `kept` parent files plus the fresh files, of
      * `rows` rows in all — a partial rewrite, whose row count only the
      * caller knows. Kept files keep their stats verbatim. */
    def replace(bucket: Int, watermark: String, kept: Seq[String], rows: Long): Unit =
      staged(bucket) = () => replaced(bucket, watermark, kept, rows)

    private def replaced(bucket: Int, watermark: String, kept: Seq[String],
        rows: Long): BucketState = {
      val keep = kept.toSet
      val keptStats = states.get(bucket).toSeq.flatMap(_.stats).filter(s => keep(s.file))
      BucketState(bucket, rows, watermark, kept ++ fresh(bucket),
        keptStats ++ freshStats(bucket))
    }

    /** Read the staged buckets' footers in one pass and commit them in one
      * snapshot over the open-time parent ([[Manifest.commit]]'s merge);
      * an [[IllegalStateException]] when HEAD no longer names it. */
    def commit(runId: String, streamWatermark: Option[(String, Long)] = None,
        extraWatermarks: Map[String, Long] = Map.empty,
        overwriteWatermarks: Map[String, Long] = Map.empty): Snapshot = {
      rows(staged.keys.toSeq) // one footer pass over every staged bucket
      table.commitOn(parent, runId, staged.values.map(_()).toSeq, streamWatermark,
        extraWatermarks, overwriteWatermarks)
    }
  }

  /** One committed snapshot. `streamWatermarks` maps a stream identity
    * (derived from its checkpoint location) to the highest micro-batch id
    * that stream has committed; the map is carried forward VERBATIM by
    * every commit (including compaction), so the streaming exactly-once
    * guard survives snapshot expiry — unlike a scan of historical snap
    * files, which maintenance is allowed to delete. */
  final case class Snapshot(id: Int, parent: Int, runId: String,
      buckets: Seq[BucketState], streamWatermarks: Map[String, Long] = Map.empty)
}

final class Manifest(tableDir: String, conf: Configuration = new Configuration()) {
  import Manifest._

  private val meta = new Path(tableDir, "meta")
  // raw FS: manifest JSON needs no CRC sidecar files (the parser validates
  // content; HDFS/S3 carry their own integrity), and sidecars would break
  // external edits + pollute listings on local runs.
  private val fs: FileSystem = meta.getFileSystem(conf) match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }
  private val mapper = new ObjectMapper()
  private def headPath = new Path(meta, "HEAD")
  private def dataDir = new Path(tableDir, "data")

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Current snapshot, if any — what an operation resolves ONCE and then
    * plans every read and its commit from. HEAD wins; with no readable
    * HEAD (crash between delete and rename in [[commit]]) the highest snap
    * file is current — it was fully written before the swap began. */
  def head(): Option[Snapshot] = {
    val fromHead =
      try {
        if (!fs.exists(headPath)) None
        else Option(readString(headPath).trim).filter(_.nonEmpty)
      } catch {
        // reader raced the writer's delete+rename HEAD swap (TOCTOU between
        // exists and open) — fall through to the latest-snap recovery, the
        // same path a crash between delete and rename uses
        case _: java.io.FileNotFoundException => None
      }
    fromHead.orElse(snapIds().lastOption.map(snapName)).map(n => readSnap(new Path(meta, n)))
  }

  private val SnapName = """snap-(\d+)\.json""".r
  private def snapName(id: Int): String = s"snap-$id.json"

  /** Ids of the snapshot files in meta/, ascending; any other name,
    * `snap-x.json` included, is not a snapshot. */
  private def snapIds(): Seq[Int] =
    if (!fs.exists(meta)) Nil
    else fs.listStatus(meta).toSeq.map(_.getPath.getName)
      .flatMap { case SnapName(n) => n.toIntOption; case _ => None }.sorted

  private def readSnap(p: Path): Snapshot = {
    val node = mapper.readTree(readString(p))
    val buckets = node.get("buckets").elements().asScala.map { b =>
      val files = Option(b.get("files"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      val stats = Option(b.get("stats"))
        .map(_.elements().asScala.map(s => FileStat(s.get("f").asText(),
          s.get("min").asText(), s.get("max").asText())).toSeq).getOrElse(Nil)
      BucketState(b.get("bucket").asInt(), b.get("rows").asLong(),
        b.get("watermark_doc_id").asText(), files, stats)
    }.toSeq
    val wms = Option(node.get("stream_wm")).map { w =>
      w.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    Snapshot(node.get("id").asInt(), node.get("parent").asInt(),
      node.get("run_id").asText(), buckets, wms)
  }

  /** Manifest-planned read of the committed table: the scan's file list
    * comes from the snapshot (optionally pruned to `buckets`), never from a
    * directory listing. `basePath` re-attaches the `bucket` partition
    * column. Zero-row buckets contribute no files; a selection with no
    * files at all yields an empty frame with the table schema when any data
    * exists, else fails fast.
    *
    * TIME TRAVEL: `asOf = Some(id)` plans the scan from snapshot `id`
    * instead of HEAD — a reader can pin a pre-compaction / pre-append
    * state and scan exactly its files (which is the point of retaining
    * snapshots, and what the orphan-GC grace period exists to protect:
    * run [[removeOrphans]] with `olderThanMs` ≥ the longest pinned read).
    * An expired snapshot id fails loudly (file gone), never silently
    * falls back to HEAD.
    *
    * STATS PRUNING: `idRange = Some((lo, hi))` (inclusive) plans only the
    * files whose recorded [[Manifest.FileStat]] zone map overlaps the
    * range — Iceberg's min/max data skipping. Files without a recorded
    * stat are always planned, so pruning is a pure superset optimization:
    * the scan may still return rows outside the range (a planned file
    * covers more than the range) and the CALLER applies its row-level
    * predicate as usual; what pruning guarantees is that no row INSIDE
    * the range is lost.
    *
    * SCHEMA: the merged schema of the files read ([[readFiles]]), so a
    * bucket whose rows WIDENED across commits reads every column, NULL in
    * the older rows. Building the frame starts no Spark job for up to 32
    * files — the file list comes from the snapshot and the schema from
    * their footers, read on the driver.
    *
    * It resolves one snapshot — `asOf`, else HEAD — and plans from it
    * ([[read]]); an operation that has already resolved its snapshot
    * calls [[read]] directly. */
  def readData(spark: SparkSession, buckets: Option[Set[Int]] = None,
      asOf: Option[Int] = None,
      idRange: Option[(String, String)] = None): DataFrame =
    read(spark, resolve(asOf), buckets, idRange)

  /** The snapshot an operation plans from: `asOf`, else HEAD, resolved
    * once. Fails when the table has no commit. */
  def resolve(asOf: Option[Int]): Snapshot =
    asOf.map(snapshotById).orElse(head()).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tableDir"))

  /** [[readData]] of the already-resolved snapshot `snap`: no HEAD read. */
  def read(spark: SparkSession, snap: Snapshot, buckets: Option[Set[Int]] = None,
      idRange: Option[(String, String)] = None): DataFrame = {
    val files = planFiles(snap, buckets, idRange)
    if (files.nonEmpty) readFiles(spark, files)
    else {
      // empty plan (zero-file selection, or idRange pruned everything):
      // an empty frame with the SELECTED buckets' schema when they have
      // files — on a mixed-namespace table (corpus + index buckets) any
      // other file would leak another namespace's schema
      val sel = snap.buckets.filter(b => buckets.forall(_.contains(b.bucket)))
        .flatMap(_.files)
      val cand = if (sel.nonEmpty) sel else snap.buckets.flatMap(_.files).take(1)
      require(cand.nonEmpty, s"snapshot ${snap.id} has no data files")
      readFiles(spark, cand).where(org.apache.spark.sql.functions.lit(false))
    }
  }

  /** Read an EXPLICIT file list of this table (a subset some caller
    * planned — zone-map pruned, bucket-selected, or hit-located). The
    * table's `basePath` is set so the `bucket` partition column
    * materializes exactly as in [[readData]]. The caller owns the claim
    * that the files belong to a live snapshot.
    *
    * The schema is [[Manifest.footerSchema]] of the files: every column
    * any of them holds, exactly as Spark's merged inference would give.
    * Up to 32 files it plans without a Spark job (their footers are read
    * on the driver); above that the footers are read in one metadata job,
    * and Spark lists the paths in one job of its own. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame = {
    require(files.nonEmpty, "readFiles needs at least one file")
    spark.read.option("basePath", dataDir.toString)
      .schema(footerSchema(spark, files)).parquet(files: _*)
  }

  /** The manifest-planned file list for a scan of `snap` — the bucket
    * selection and zone-map pruning [[readData]] uses, exposed so tests
    * and operators can assert / observe HOW MANY files a read opens.
    * Pruning rule per file: planned unless a recorded stat proves its id
    * range is disjoint from `idRange` (no stat → planned). */
  def planFiles(snap: Snapshot, buckets: Option[Set[Int]] = None,
      idRange: Option[(String, String)] = None): Seq[String] = {
    val sel = snap.buckets.filter(b => buckets.forall(_.contains(b.bucket)))
    // a non-empty bucket without file lineage would silently under-read —
    // fail loudly instead (only hand-edited / pre-lineage manifests can
    // produce this state; zero-row buckets legitimately carry no files)
    val missing = sel.filter(b => b.rows > 0 && b.files.isEmpty)
    require(missing.isEmpty,
      s"snapshot ${snap.id} lacks file lineage for buckets ${missing.map(_.bucket).mkString(",")}")
    idRange match {
      case None => sel.flatMap(_.files)
      case Some((lo, hi)) =>
        require(lo <= hi, s"idRange lo > hi: ($lo, $hi)")
        sel.flatMap { b =>
          val byFile = b.stats.map(s => s.file -> s).toMap
          b.files.filter(f => byFile.get(f)
            .forall(s => s.maxId >= lo && s.minId <= hi))
        }
    }
  }

  /** List the current parquet files of one bucket directory (the
    * [[Manifest.Txn]]'s before/after listing). */
  def listBucketFiles(bucket: Int): Seq[String] = {
    val d = new Path(dataDir, s"bucket=$bucket")
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).sorted
  }

  /** Open a write-then-commit [[Manifest.Txn]] over `buckets`, planned
    * from `parent` — the snapshot the operation resolved (None: no commit
    * yet). */
  def txn(spark: SparkSession, parent: Option[Snapshot], buckets: Seq[Int]): Txn =
    new Txn(this, spark, parent, buckets)

  /** Snapshot by id (must exist on disk). */
  def snapshotById(id: Int): Snapshot = readSnap(new Path(meta, snapName(id)))

  /** Snapshot history (Iceberg's `snapshots` metadata table analog):
    * every RETAINED snapshot, oldest first. Exactly the set time travel
    * and [[rollback]] can still reach — expired snapshots are absent.
    * Manifest-sized: one small JSON parse per retained snapshot. */
  def history(): Seq[Snapshot] = snapIds().map(snapshotById)

  /** CDC-lite: bucket states in HEAD whose LOGICAL content differs from
    * snapshot `sinceId` (new bucket, or different rows/watermark).
    * Deliberately ignores the files list: compaction rewrites files without
    * changing content and must NOT trigger downstream reprocessing. */
  def changedBuckets(sinceId: Int): Seq[BucketState] = {
    val old = snapshotById(sinceId).buckets.map(b => b.bucket -> b).toMap
    head().map(_.buckets.filterNot(b => old.get(b.bucket)
      .exists(o => o.rows == b.rows && o.watermarkDocId == b.watermarkDocId)))
      .getOrElse(Nil)
  }

  /** Delete all snapshot files except the newest `keepLast` (HEAD target is
    * always kept). Returns deleted file names. Parent pointers of kept
    * snapshots may reference expired ids — by design (Iceberg semantics):
    * history is pruned, current state is complete in one file. */
  def expireSnapshots(keepLast: Int): Seq[String] = {
    require(keepLast >= 1)
    val current = head().map(_.id).toSet
    val drop = snapIds().dropRight(keepLast).filterNot(current).map(snapName)
    drop.foreach(n => fs.delete(new Path(meta, n), false))
    drop
  }

  /** Parquet files under data/ NOT referenced by the current snapshot —
    * left behind by compaction or crashed writes; safe to delete once no
    * reader pins an expired snapshot. `olderThanMs > 0` keeps recent
    * orphans (by file modification time) so in-flight readers that
    * resolved a pre-compaction snapshot can finish their scan — pick a
    * grace period ≥ the longest reader. */
  def orphanFiles(olderThanMs: Long = 0L): Seq[String] = {
    val referenced = head().map(_.buckets.flatMap(_.files).toSet).getOrElse(Set.empty)
    if (!fs.exists(dataDir)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    val it = fs.listFiles(dataDir, true)
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet") &&
        (olderThanMs <= 0L || st.getModificationTime <= cutoff))
        all += st.getPath.toString
    }
    (all.toSet -- referenced).toSeq.sorted
  }

  /** Delete orphan data files (post-compaction GC) older than the grace
    * period. Returns what was removed. */
  def removeOrphans(olderThanMs: Long = 0L): Seq[String] = {
    val orphans = orphanFiles(olderThanMs)
    orphans.foreach(f => fs.delete(new Path(f), false))
    orphans
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** INCREMENTAL READ (Iceberg's incremental append scan): the rows
    * ADDED after snapshot `fromId` (exclusive), up to `toId` (inclusive;
    * default HEAD) — planned as the FILE-SET difference of the two
    * snapshots, so a downstream consumer processes each appended file
    * exactly once and never rescans the table. `fromId = -1` bootstraps
    * (reads everything in `toId`). The frame has the merged schema of the
    * added files ([[readFiles]]), or of `toId`'s selection when none was
    * added.
    *
    * EXACT only across append-only commits (extraction runs, stream
    * micro-batches): a REWRITE commit in the window (compact, delete,
    * reshard, rollback, clustering) re-materializes surviving rows into
    * new files, so the file diff would re-deliver them. Rewrites are
    * detectable from lineage — appends never REMOVE a file, so any
    * `from` file absent from `to` marks one — and this method fails
    * loudly in that case; `allowRewrites = true` opts an auditing
    * consumer into the raw added-file rows anyway. Downstream contract:
    * checkpoint the snapshot id you've consumed through, call
    * `readAppended(lastConsumed)` on a schedule, advance the checkpoint
    * to HEAD's id after processing — and schedule table maintenance
    * (which rewrites) only at consumer sync points. */
  def readAppended(spark: SparkSession, fromId: Int, toId: Option[Int] = None,
      allowRewrites: Boolean = false, buckets: Option[Set[Int]] = None): DataFrame = {
    val to = resolve(toId)
    val fromFiles: Set[String] =
      if (fromId < 0) Set.empty
      else snapshotById(fromId).buckets
        .filter(b => buckets.forall(_.contains(b.bucket)))
        .flatMap(_.files).toSet
    val toSel = to.buckets.filter(b => buckets.forall(_.contains(b.bucket)))
    val removed = fromFiles -- toSel.flatMap(_.files).toSet
    require(removed.isEmpty || allowRewrites,
      s"snapshots $fromId..${to.id} include a rewrite commit (${removed.size} " +
        s"files replaced, e.g. ${removed.take(2).mkString(", ")}): the append diff " +
        "would re-deliver surviving rows — re-sync from a full read, or pass " +
        "allowRewrites=true to audit the raw added files")
    val added = toSel.flatMap(_.files).filterNot(fromFiles)
    if (added.nonEmpty) readFiles(spark, added)
    else read(spark, to, buckets).where(org.apache.spark.sql.functions.lit(false))
  }

  /** ROLL BACK the table to snapshot `toId` (Iceberg's
    * rollback_to_snapshot): commits a NEW snapshot whose bucket states
    * are the target's, verbatim — history only moves forward, so time
    * travel to the reverted-away snapshot keeps working until expiry and
    * a crash mid-rollback leaves HEAD untouched. Stream watermarks are
    * NOT rolled back ([[commit]] ratchets them): rollback reverts DATA,
    * not delivery — a resumed stream stays exactly-once and will not
    * re-admit batches the bad snapshot had already consumed.
    *
    * Fails loudly when the target is expired, when any target data file
    * was already orphan-GC'd (the rollback window is bounded by the GC
    * grace period — run `removeOrphans(olderThanMs ≥ window)`), or when
    * the bucket set changed since the target (a reshard happened in
    * between; layouts aren't comparable — re-migrate instead). */
  def rollback(toId: Int): Snapshot = {
    val target = snapshotById(toId) // throws if expired — never silent
    val cur = head().getOrElse(
      throw new IllegalStateException(s"nothing to roll back at $tableDir"))
    require(target.buckets.map(_.bucket).toSet == cur.buckets.map(_.bucket).toSet,
      s"bucket layout changed since snapshot $toId (reshard?) — rollback refused")
    // the bucket-id SET alone cannot see a DOWNshard (reshard zeroes stale
    // ids instead of removing them, so the set is unchanged): the reserved
    // layout-class watermarks (__layout:*, __cms:*) must also agree, or
    // the restored data would be read under the wrong bucket namespaces
    def layoutKeys(s: Snapshot) = s.streamWatermarks.filter(_._1.startsWith("__"))
    require(layoutKeys(target) == layoutKeys(cur),
      s"reserved layout watermarks changed since snapshot $toId " +
        s"(${layoutKeys(target)} vs ${layoutKeys(cur)}) — a reshard happened " +
        "in between; layouts aren't comparable — rollback refused, re-migrate instead")
    val gone = target.buckets.flatMap(_.files).filterNot(f => fs.exists(new Path(f)))
    require(gone.isEmpty,
      s"rollback to $toId impossible: ${gone.size} data files already GC'd, e.g. ${gone.take(3).mkString(", ")}")
    commitOn(Some(cur), s"rollback-to-$toId", target.buckets, None, Map.empty, Map.empty)
  }

  /** Commit over the current HEAD: union its completed buckets with
    * `newBuckets` (new state wins on conflict), write snap-(n+1), advance
    * HEAD. HEAD is resolved once and committed against as a
    * [[Manifest.Txn]] commits against its parent, check included.
    * `extraWatermarks` ride the same carried-forward-verbatim map as the
    * streaming watermark — the durable home for table-level metadata such
    * as the indexed-corpus layout stamp (reserved `__`-prefixed keys;
    * monotone max-merge like every watermark entry).
    * `overwriteWatermarks` entries are set VERBATIM after the merge — the
    * escape hatch for metadata that legitimately moves DOWN (resharding
    * restamps the layout key to a smaller bucket count; a max-merge could
    * never record it). Stream batch watermarks must never use this. */
  def commit(runId: String, newBuckets: Seq[BucketState],
      streamWatermark: Option[(String, Long)] = None,
      extraWatermarks: Map[String, Long] = Map.empty,
      overwriteWatermarks: Map[String, Long] = Map.empty): Snapshot =
    commitOn(head(), runId, newBuckets, streamWatermark, extraWatermarks,
      overwriteWatermarks)

  /** [[commit]] over `parent`, which must still be HEAD. The check runs
    * just before the writes, so it narrows the two-writer window without
    * closing it (no compare-and-swap on a plain FS; see the header).
    * `snap-<n+1>.json` is written with overwrite: a crashed commit's
    * leftover, with HEAD still at n, never blocks the rerun. */
  private def commitOn(parent: Option[Snapshot], runId: String,
      newBuckets: Seq[BucketState], streamWatermark: Option[(String, Long)],
      extraWatermarks: Map[String, Long],
      overwriteWatermarks: Map[String, Long]): Snapshot = {
    val parentId = parent.map(_.id).getOrElse(-1)
    val found = head().fold(-1)(_.id)
    if (found != parentId) throw new IllegalStateException(s"commit '$runId' to " +
      s"$tableDir was planned from snapshot $parentId but HEAD is now snapshot $found: " +
      "another writer committed in between; nothing was committed, re-plan from HEAD")
    fs.mkdirs(meta)
    val merged = (parent.map(_.buckets).getOrElse(Seq.empty)
      .filterNot(b => newBuckets.exists(_.bucket == b.bucket)) ++ newBuckets)
      .sortBy(_.bucket)
    val id = parentId + 1
    val parentWms = parent.map(_.streamWatermarks).getOrElse(Map.empty)
    val withExtra = extraWatermarks.foldLeft(parentWms) { case (m, (k, v)) =>
      m.updated(k, math.max(v, m.getOrElse(k, -1L)))
    }
    val wms = (streamWatermark match {
      case Some((sid, b)) => withExtra.updated(sid, math.max(b, withExtra.getOrElse(sid, -1L)))
      case None => withExtra
    }) ++ overwriteWatermarks
    val snap = Snapshot(id, parentId, runId, merged, wms)
    val body = {
      val bs = merged.map { b =>
        val fl = b.files.map(jstr).mkString("[", ",", "]")
        val st = if (b.stats.isEmpty) ""
          else b.stats.map(s =>
            s"""{"f":${jstr(s.file)},"min":${jstr(s.minId)},"max":${jstr(s.maxId)}}""")
            .mkString(""","stats":[""", ",", "]")
        s"""{"bucket":${b.bucket},"rows":${b.rows},"watermark_doc_id":${jstr(b.watermarkDocId)},"files":$fl$st}"""
      }.mkString("[", ",", "]")
      val wm = wms.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
      s"""{"id":$id,"parent":$parentId,"run_id":${jstr(runId)},"stream_wm":$wm,"buckets":$bs}"""
    }
    writeString(new Path(meta, snapName(id)), body)
    val tmp = new Path(meta, s".HEAD.tmp.$id")
    writeString(tmp, snapName(id))
    if (fs.exists(headPath)) fs.delete(headPath, false)
    if (!fs.rename(tmp, headPath))
      throw new java.io.IOException(s"HEAD swap failed for snap-$id at $meta")
    snap
  }
}
