package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew handling for joins (SURVEY.md §2C — the join-side
  * companion to the salted two-phase aggregation in `q_salted_agg`).
  *
  * A shuffle join on a zipf-skewed key sends every row of the hot key to
  * ONE reducer; AQE's skew-join split only rescues sort-merge joins after
  * the fact and never helps custom downstream stages. The classic explicit
  * fix: salt the SKEWED (big) side with `pmod(hash(row), k)` and replicate
  * the other side k× with every salt value — the join key becomes
  * (key, salt), splitting each hot key across k reducers. Result-identical
  * to the plain join; only the partitioning changes.
  *
  * Cost model: replicating the small side k× is cheap when it is dimension-
  * sized (the usual case: docs ⋈ per-domain config). Never salt both sides.
  */
object Skew {

  /** Inner-join `big ⋈ small` on `key`, with the big side salted `k` ways
    * and the small side replicated once per salt. Output columns = the
    * plain join's columns (salt is internal). The caller must KNOW the
    * key is hot and pick k — [[saltedJoinAuto]] closes that loop with a
    * measured per-key salt map. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, k: Int): DataFrame = {
    require(k >= 1, "salt factor must be >= 1")
    val saltedBig = big.withColumn("__salt", pmod(hash(struct(big.columns.map(col): _*)), lit(k)))
    val replicatedSmall = small.withColumn("__salt", explode(expr(s"sequence(0, ${k - 1})")))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Hot-key detection: per-key row counts of the big side → the salt
    * map (key, n, salt) for every key whose count exceeds `targetRows`,
    * with salt = ceil(n / targetRows) (integer math — the same formula
    * the DuckDB-oracled q_skew_detect replays). The counter is a partial
    * hash-agg, so the DETECTOR never suffers the skew it measures: a
    * million-row key reaches the reducer as one row per map partition.
    * `sampleBp > 0` counts only a deterministic hash-sample of rows
    * (xxhash64 row hash mod 10⁴ < sampleBp) and scales the estimate —
    * the cheap pass when the big side is scanned for nothing else; the
    * salt factor only needs the right magnitude, not an exact count.
    *
    * COST of the sampled default on a WIDE table: hashing the full row
    * struct forces the scan to read every column, defeating column
    * pruning — the expensive pass the sampling mode exists to avoid. Pass
    * `sampleCol = Some(c)` naming a row-unique column (a primary key, or
    * the key plus a disambiguator) and the sample hashes ONLY that column:
    * the detector scan then reads two columns (key + c) regardless of
    * table width. The column must be row-unique (or at least uncorrelated
    * with the key) for the sample to stay uniform — hashing a LOW-
    * CARDINALITY column would sample whole value-groups in or out and
    * skew every estimate. */
  def detectHotKeys(big: DataFrame, key: String, targetRows: Long,
      sampleBp: Int = 0, sampleCol: Option[String] = None): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    require(sampleBp >= 0 && sampleBp <= 10000, s"sampleBp in [0,10000], got $sampleBp")
    val rowHash = sampleCol match {
      case Some(c) => xxhash64(col(c))
      case None => xxhash64(struct(big.columns.map(col): _*))
    }
    val base =
      if (sampleBp == 0) big
      else big.where(pmod(rowHash, lit(10000)) < sampleBp)
    val est =
      if (sampleBp == 0) col("__n0")
      else col("__n0") * 10000L / sampleBp
    base.groupBy(col(key)).agg(count(lit(1)).as("__n0"))
      .select(col(key), est.cast("bigint").as("n"))
      .withColumn("salt", expr(s"CAST((n + ${targetRows - 1}) div $targetRows AS INT)"))
      .where(col("salt") > 1)
  }

  /** [[saltedJoin]] with the salt factor MEASURED per key instead of
    * caller-supplied: hot keys ([[detectHotKeys]]) are salted by their
    * own ceil(n/targetRows) — each hot key splits across exactly enough
    * reducers to bound the per-task row count — while cold keys keep
    * salt 1 (no replication cost on the small side for them; never salt
    * both sides). Result-identical to the plain inner join; only the
    * partitioning changes. The salt map is broadcast (one row per HOT
    * key — by construction a tiny relation). */
  def saltedJoinAuto(big: DataFrame, small: DataFrame, key: String,
      targetRows: Long, sampleBp: Int = 0,
      sampleCol: Option[String] = None): DataFrame = {
    // the detector aggregation scans the BIG side — materialize its tiny
    // result once (one row per hot key) so the two joins below don't each
    // recompute the scan+shuffle. Lazy: q_skew_detect runs 8 jobs with it,
    // 9 with an eager pin
    val hot = graft.Pin(detectHotKeys(big, key, targetRows, sampleBp, sampleCol)
      .select(col(key), col("salt").as("__k")))
    val bigS = big.join(broadcast(hot), Seq(key), "left")
      .withColumn("__k", coalesce(col("__k"), lit(1)))
      .withColumn("__salt", pmod(hash(struct(big.columns.map(col): _*)), col("__k")))
      .drop("__k")
    val smallS = small.join(broadcast(hot), Seq(key), "left")
      .withColumn("__k", coalesce(col("__k"), lit(1)))
      .withColumn("__salt", explode(expr("sequence(0, __k - 1)")))
      .drop("__k")
    bigS.join(smallS, Seq(key, "__salt")).drop("__salt")
  }
}
