package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque binary columns
  * with typed metadata.
  *
  * The decode stage is REAL where no codec is needed and an honest stub
  * where one would be (the container ships no image/audio codecs,
  * SURVEY.md §0.3):
  *  - format TRIAGE is real: magic-number sniffing of JPEG/PNG/GIF/RIFF
  *    (WAV/AVI)/PDF/ZIP headers — the standard first pass over an opaque
  *    crawl payload column;
  *  - DIMENSIONS are real for PNG (IHDR chunk), GIF (logical-screen
  *    descriptor) and JPEG (marker-stream walk to the first SOF frame
  *    header) — plain big/little-endian header reads, no codec;
  *  - what genuinely needs a codec (frame decode, pixel ops, resize
  *    bytes) stays a deterministic fake, clearly marked below.
  * The batched per-partition loop (decoder init amortized once per
  * partition), schema and typed result are the 100 TB-relevant plumbing;
  * a real codec swaps only the fake branches of `MediaDecoder.decode`.
  */
object Media {

  /** Typed metadata emitted per payload. */
  case class MediaMeta(
      doc_id: Long,
      n_bytes: Int,
      format: String,
      width: Int,
      height: Int,
      frames: Int,
      checksum: String)

  object MediaDecoder {
    private[Media] def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private[Media] def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private[Media] def ascii(b: Array[Byte], i: Int, s: String): Boolean =
      b.length >= i + s.length && s.indices.forall(j => b(i + j) == s.charAt(j).toByte)

    /** REAL JPEG dimension parse — walk the marker stream from SOI to the
      * first SOF0/1/2 frame header and read (width, height) big-endian; no
      * codec involved. Standalone markers (TEM, RSTn, EOI) carry no length;
      * every other segment advances by its 2-byte length. Returns None on
      * truncation. The q_media_meta oracle replays this walk as a recursive
      * CTE over the hex payload — keep the two in sync. */
    private[Media] def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
      var i = 2
      while (i + 1 < b.length && (b(i) & 0xff) == 0xFF) {
        val m = b(i + 1) & 0xff
        if (m == 0xFF) i += 1 // fill byte (spec B.1.1.2): 0xFF padding before a marker
        else if (m == 0xC0 || m == 0xC1 || m == 0xC2)
          return if (i + 8 < b.length)
            Some((((b(i + 7) & 0xff) << 8) | (b(i + 8) & 0xff),   // width
              ((b(i + 5) & 0xff) << 8) | (b(i + 6) & 0xff)))      // height
          else None
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD9)) i += 2    // standalone
        else if (i + 3 < b.length)
          i += 2 + (((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff))
        else return None
      }
      None
    }
  }

  /** Byte-level decoder: REAL magic-number sniffing + real PNG/GIF header
    * dims; deterministic fakes where an actual codec would run (marked).
    * The same prefix rules are replayed by the q_media_meta SQL oracle —
    * keep the two in sync. */
  final class MediaDecoder extends Serializable {
    import MediaDecoder._
    def decode(id: Long, bytes: Array[Byte]): MediaMeta = {
      val n = bytes.length
      val b0 = if (n > 0) bytes(0) & 0xff else 0
      def fakeW = 32 + (n % 64) // FAKE dims: a codec would decode these
      def fakeH = 32 + (b0 % 48)
      val (fmt, w, h) =
        if (n >= 3 && b0 == 0xFF && (bytes(1) & 0xff) == 0xD8 && (bytes(2) & 0xff) == 0xFF) {
          val d = jpegDims(bytes) // REAL: SOF frame-header width/height
          ("jpeg", d.map(_._1).getOrElse(fakeW), d.map(_._2).getOrElse(fakeH))
        }
        else if (n >= 24 && b0 == 0x89 && ascii(bytes, 1, "PNG") &&
            (bytes(4) & 0xff) == 0x0D && (bytes(5) & 0xff) == 0x0A &&
            (bytes(6) & 0xff) == 0x1A && (bytes(7) & 0xff) == 0x0A)
          ("png", be32(bytes, 16), be32(bytes, 20)) // REAL: IHDR width/height
        else if (n >= 10 && ascii(bytes, 0, "GIF8"))
          ("gif", le16(bytes, 6), le16(bytes, 8)) // REAL: logical screen size
        else if (n >= 12 && ascii(bytes, 0, "RIFF"))
          (if (ascii(bytes, 8, "WAVE")) "wav"
           else if (ascii(bytes, 8, "AVI ")) "avi"
           else "riff", fakeW, fakeH)
        else if (ascii(bytes, 0, "%PDF")) ("pdf", fakeW, fakeH)
        else if (n >= 4 && ascii(bytes, 0, "PK") && bytes(2) == 3 && bytes(3) == 4)
          ("zip", fakeW, fakeH)
        else // unknown header: the original deterministic fake triage
          ((b0 % 3) match { case 0 => "img"; case 1 => "aud"; case _ => "vid" },
            fakeW, fakeH)
      MediaMeta(
        doc_id = id,
        n_bytes = n,
        format = fmt,
        width = w,
        height = h,
        frames = if (fmt == "vid" || fmt == "avi") 1 + (n % 16) else 1,
        checksum = java.security.MessageDigest.getInstance("MD5")
          .digest(bytes).map("%02x".format(_)).mkString)
    }
  }

  /** Attach a binary payload column derived from text (the sandbox's stand-in
    * for real media bytes). */
  def withPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", encode(substring(col(textCol), 1, 64), "utf-8"))

  /** Batched decode: one decoder instance per partition, streaming over
    * rows (the mapInPandas-batch analog in Scala Spark). Input df must have
    * (doc_id: bigint, payload: binary). */
  def decodeMeta(spark: SparkSession, df: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val dec = new MediaDecoder // init once per partition
        it.map { case (id, bytes) => dec.decode(id, bytes) }
      }
  }

  /** CLIP/LAION-style CAPTION MINING over the interleaved span table —
    * the (media, text) PAIR shape of multimodal training data, the
    * complement of [[graft.ops.Sampling.interleavedStream]]'s Flamingo
    * interleaved-sequence shape (reference analog: qetch emits media
    * fragments adjacent to their page text; the pairing rule below is the
    * corpus-scale generalization).
    *
    * For each `media` span of the offset-sorted array, the caption is the
    * ADJACENT text span — the following span preferred (figure captions
    * follow their figure), else the preceding one — and a neighbor only
    * qualifies if its character length lies in `[minChars, maxChars]`
    * (alt-text-length bounds: a 2-char fragment or a whole article is not
    * a caption). Emits one struct per media span, `caption`/`side` NULL
    * when neither neighbor qualifies, so caption COVERAGE stays auditable
    * — filter `caption IS NOT NULL` for the training pairs.
    *
    * Pure per-row array algebra over the span array (sort + indexed
    * transform + `get`, which is NULL-safe at both array ends): narrow,
    * zero shuffle, whole-stage codegen. `pos` is the span's index in the
    * offset-sorted array (== its dense output offset for extraction
    * output, where offsets are renumbered 0..n-1). */
  def captionCandidates(spans: Column, minChars: Int = 5,
      maxChars: Int = 300): Column = {
    // a neighbor's caption candidacy; NULL (disqualified) when it is not
    // a text span or its length is out of bounds — NULL kind/text safe
    def cand(s: Column): Column =
      when(s("kind") === "text" &&
        length(s("text")).between(minChars, maxChars), s("text"))
    // the sorted array is bindOnce-bound: Catalyst does no subexpression
    // elimination inside HOF lambdas, so referencing the array_sort
    // expression from the per-element lambda would RE-SORT the span array
    // ~2n times per row (O(n² log n) on a span-heavy page)
    Cleaning.bindOnce(array_sort(spans, (a, b) =>
      when(a("offset") < b("offset"), -1)
        .when(a("offset") > b("offset"), 1).otherwise(0))) { sorted =>
      val perSpan = transform(sorted, (s, i) => {
        val after = cand(get(sorted, i + 1))
        val before = cand(get(sorted, i - 1))
        struct(
          (s("kind") === "media").as("m"),
          s("media_ref").as("media_ref"),
          i.cast("int").as("pos"),
          coalesce(after, before).as("caption"),
          when(after.isNotNull, lit("after"))
            .when(before.isNotNull, lit("before")).as("side"))
      })
      transform(filter(perSpan, x => x("m")), x => struct(
        x("media_ref").as("media_ref"), x("pos").as("pos"),
        x("caption").as("caption"), x("side").as("side")))
    }
  }

  /** The exploded pair TABLE over [[captionCandidates]]: one row per
    * media span that found a caption — (idCols…, media_ref, pos, caption,
    * side), the image-text-pair training table (CLIP/LAION shape). Rows
    * whose media span found no qualifying neighbor are dropped here;
    * audit coverage with `captionCandidates` directly. */
  def mediaTextPairs(df: DataFrame, idCols: Seq[String], spansCol: Column,
      minChars: Int = 5, maxChars: Int = 300): DataFrame =
    df.select(idCols.map(col) :+
        explode(captionCandidates(spansCol, minChars, maxChars)).as("__c"): _*)
      .select(idCols.map(col) :+ col("__c.media_ref") :+ col("__c.pos") :+
        col("__c.caption") :+ col("__c.side"): _*)
      .where(col("caption").isNotNull)

  /** Frame-sampling stub: every `stride`-th frame index up to `frames`.
    * Real implementation would return decoded frame tensors; the Spark
    * plumbing (explode to one row per sampled frame) is the real part. */
  def sampleFrames(meta: DataFrame, stride: Int): DataFrame =
    meta.withColumn("frame_idx",
        explode(sequence(lit(0), col("frames") - 1, lit(stride))))
      .select(col("doc_id"), col("frame_idx"), col("format"))

  /** Byte-level feature row: REAL computation (no codec needed). */
  case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      hist: Seq[Long],     // 16-bin histogram over byte values (value >> 4)
      entropy_m3: Long,    // Shannon entropy over the 16 bins, milli-bits ×1000 floor
      zero_runs: Int)      // number of maximal runs of 0x00 bytes

  /** Feature extraction over opaque binary payloads — unlike the decoder
    * this is NOT a stub: byte histograms / entropy / zero-run counts are
    * the standard cheap signals for corrupt-or-padding detection and
    * format triage at corpus scale, computable without any codec. One
    * streaming pass per payload, per-partition batching. */
  def extractFeatures(spark: SparkSession, df: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    df.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = new Array[Long](16)
          var zeroRuns = 0; var inZero = false
          var i = 0
          while (i < bytes.length) {
            val b = bytes(i) & 0xff
            hist(b >> 4) += 1
            if (b == 0) { if (!inZero) { zeroRuns += 1; inZero = true } }
            else inZero = false
            i += 1
          }
          val n = bytes.length.toDouble
          var ent = 0.0
          var k = 0
          while (k < 16) {
            if (hist(k) > 0) { val p = hist(k) / n; ent -= p * (math.log(p) / math.log(2)) }
            k += 1
          }
          MediaFeatures(id, bytes.length, hist.toVector,
            if (bytes.isEmpty) 0L else math.floor(ent * 1000).toLong, zeroRuns)
        }
      }
  }

  // ------------------------------------------------------------------
  // Binary near-dup — MinHash-LSH over BYTE shingles. The media analog
  // of text near-dup detection, and REAL (no codec needed): re-encoded
  // or truncated copies of the same asset share long byte runs, so byte
  // n-gram Jaccard separates them from unrelated payloads. Same scale
  // shape as the text path: narrow signature map → banded equi-join with
  // the hot-bucket guard → pair-driven exact verify; the quadratic term
  // only ever exists inside a bucket.
  // ------------------------------------------------------------------

  /** Byte n-gram shingles of a binary column, as hex strings: shingle i =
    * bytes [i, i+n), stepping ONE BYTE (substrings of the hex rendering at
    * even offsets — never split mid-byte). Payloads shorter than n bytes
    * get an empty array (and never spuriously collide downstream). */
  private def byteShingles(binCol: String, n: Int) =
    when(length(col(binCol)) >= n,
      expr(s"""transform(sequence(0, (length(__hx) div 2) - $n),
              |  i -> substring(__hx, 2 * i + 1, ${2 * n}))""".stripMargin))
      .otherwise(array().cast("array<string>"))

  /** MinHash signatures over byte shingles: adds `sig` (array<string>,
    * length k). The signature core (k salted min-md5 values) is shared
    * with the text path ([[graft.ops.Dedup.minhashSignatures]]); only the
    * shingle basis differs. Feed the result to
    * [[graft.ops.Dedup.lshCandidatePairs]] — banding, the hot-bucket
    * guard and the oversize audit all apply unchanged. */
  def binarySignatures(df: DataFrame, binCol: String, n: Int = 8,
      k: Int = 8): DataFrame =
    Dedup.sigOverShingles(
        df.withColumn("__hx", hex(col(binCol)))
          .withColumn("__bsh", byteShingles(binCol, n)),
        "__bsh", k)
      .drop("__hx", "__bsh")

  /** Exact byte-shingle-set Jaccard for candidate pairs — the verify
    * stage after banding (the binary analog of Dedup.jaccardVerify):
    * pair-driven equi-joins against the payload table, never all-pairs.
    * `pairs` is read three times (the pair join and the two semi
    * pre-filters), so pass it pinned ([[graft.Pin]]) unless it is a
    * trivial relation. */
  def binaryJaccardVerify(df: DataFrame, idCol: String, binCol: String,
      pairs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // shingle sets only for ids that appear in a candidate pair (the text
    // verify's semi pre-filter, Dedup.jaccardVerifyAcross has the
    // rationale): the hex+shingle projection and the verify joins' bytes
    // cost O(candidates), never O(corpus). Results identical.
    def sets(ids: DataFrame) = df
      .join(ids, df(idCol) === ids("__pid"), "left_semi")
      .withColumn("__hx", hex(col(binCol)))
      .select(col(idCol).as("__id"),
        array_distinct(byteShingles(binCol, n)).as("__sset"))
    pairs
      .join(sets(pairs.select(col("id_a").as("__pid"))).as("sa"),
        col("id_a") === col("sa.__id"))
      .join(sets(pairs.select(col("id_b").as("__pid"))).as("sb"),
        col("id_b") === col("sb.__id"))
      .withColumn("inter", size(array_intersect(col("sa.__sset"), col("sb.__sset"))))
      .withColumn("uni", size(array_union(col("sa.__sset"), col("sb.__sset"))))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full binary near-dup pipeline: byte-shingle MinHash → LSH banded
    * candidates (hot buckets guarded, auditable via
    * Dedup.lshOversizeBuckets over [[binarySignatures]]) → exact
    * byte-shingle Jaccard. Returns (id_a, id_b, jaccard ≥ threshold),
    * id_a < id_b. */
  def binaryNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      n: Int = 8, k: Int = 8, bands: Int = 4, threshold: Double = 0.7,
      maxBucket: Int = 4096): DataFrame = {
    val sigs = binarySignatures(df.select(col(idCol), col(binCol)), binCol, n, k)
      .select(col(idCol), col("sig"))
    // the verify consumes the candidates three times (pair join + two semi
    // pre-filters) — materialize them once, lazily
    val cands = graft.Pin(Dedup.lshCandidatePairs(sigs, idCol, bands, maxBucket))
    binaryJaccardVerify(df, idCol, binCol, cands, n, threshold)
  }

  /** Resize stage stub: emits the target geometry + a deterministic
    * checksum of (payload, w, h) standing in for resized bytes — the real
    * part is the stage shape (pure row map, no shuffle; a real impl swaps
    * the body for an image-lib call exactly like MediaDecoder.decode). */
  def resizeStub(df: DataFrame, w: Int, h: Int): DataFrame =
    df.select(col("doc_id"),
      lit(w).as("width"), lit(h).as("height"),
      md5(concat(base64(col("payload")), lit(s":$w:$h"))).as("resized_checksum"))
}
