package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The SQL-expressible operator surface (SURVEY.md §2B, §7.3 M2) plus the
  * training-data-pipeline operators (dedup / similarity / text analysis /
  * multimodal plumbing), each paired with an ANSI-SQL DuckDB oracle run by
  * the driver over the same parquet tables.
  *
  * Parity rules (hard-won; violating any of these breaks the driver's
  * hash compare):
  *  - alias every computed column identically in Spark and oracle SQL;
  *  - CAST aggregates explicitly in the oracle — DuckDB sum() returns
  *    HUGEINT/int128, Spark returns bigint;
  *  - no raw double aggregation: money → integer cents via
  *    round(x*100,0)::bigint (identical IEEE double ops both sides),
  *    embeddings → integer quantization floor(cast(x as double)*1000);
  *  - portable hashing via md5() (identical hex in both engines); 60-bit
  *    ints via Spark conv(hex,16,10) ↔ DuckDB ('0x'||hex)::bigint;
  *  - timestamps → formatted strings (date_format ↔ strftime);
  *  - explicit ORDER BY on emitted key columns in both.
  */
object Queries {

  final case class QueryDef(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Integer cents from a money double — identical in both engines. */
  private def cents(c: Column): Column = round(c * 100, 0).cast("bigint")

  // ------------------------------------------------------------------
  // Relational operator surface (SURVEY.md §2A/O1-O3, §2B)
  // ------------------------------------------------------------------

  /** O1–O3: ordered first-match dispatch as a CASE/rlike cascade (qetch
    * get_extractor semantics — CASE preserves registration order). */
  private val qDispatch = QueryDef(
    "q_dispatch_case",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(
          when($"source".rlike("^src0$"), "hot")
            .when($"source".rlike("^src1[0-9]$"), "teen")
            .otherwise("generic").as("route"))
        .groupBy($"route").agg(count("*").as("n"))
        .orderBy($"route")
    },
    Some("""SELECT CASE WHEN regexp_matches(source, '^src0$') THEN 'hot'
           |  WHEN regexp_matches(source, '^src1[0-9]$') THEN 'teen'
           |  ELSE 'generic' END AS route, CAST(count(*) AS BIGINT) AS n
           |FROM documents GROUP BY 1 ORDER BY route""".stripMargin))

  /** Projection + filter with parquet pushdown; money as integer cents. */
  private val qFilter = QueryDef(
    "q_filter_pushdown",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .where($"l_shipdate" >= lit("1995-01-01").cast("timestamp") && $"l_quantity" < 25)
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(count("*").as("n"),
          sum($"l_quantity".cast("bigint")).as("sum_qty"),
          sum(cents($"l_extendedprice")).as("revenue_cents"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           |  CAST(sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity < 25
           |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** Grouping-sets surface: rollup(lang, source). */
  private val qRollup = QueryDef(
    "q_agg_rollup",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .rollup($"lang", $"source")
        .agg(count("*").as("n"), sum($"n_chars").as("chars"))
        .select(coalesce($"lang", lit("ALL")).as("lang"),
          coalesce($"source", lit("ALL")).as("source"), $"n", $"chars")
        .orderBy($"lang", $"source")
    },
    Some("""SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents GROUP BY ROLLUP(lang, source) ORDER BY lang, source""".stripMargin))

  /** Window ranking — qetch quality-variant pick (O5/O6): top-3 per group. */
  private val qWindow = QueryDef(
    "q_window_rank",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id".asc)
      t(s, dir, "documents")
        .select($"source", $"doc_id", $"n_chars", row_number().over(w).as("rn"))
        .where($"rn" <= 3)
        .orderBy($"source", $"rn")
    },
    Some("""SELECT source, doc_id, n_chars, rn FROM (
           |  SELECT source, doc_id, n_chars,
           |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
           |  FROM documents) WHERE rn <= 3 ORDER BY source, rn""".stripMargin))

  /** Broadcast dimension joins (customer ⋈ nation ⋈ region). */
  private val qJoin = QueryDef(
    "q_join_dims",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count("*").as("n"), sum(cents($"c_acctbal")).as("acctbal_cents"))
        .orderBy($"r_name", $"n_name")
    },
    Some("""SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(round(c_acctbal*100, 0) AS BIGINT)) AS BIGINT) AS acctbal_cents
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin))

  /** Top-k: global sort + limit. */
  private val qTopK = QueryDef(
    "q_sort_topk",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", $"source", $"n_chars")
        .orderBy($"n_chars".desc, $"doc_id".asc)
        .limit(10)
    },
    Some("""SELECT doc_id, source, n_chars FROM documents
           |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin))

  /** Left-anti join — the resume/pending-partition pattern (O15). */
  private val qAnti = QueryDef(
    "q_anti_join",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders").where($"o_orderstatus" === "F"),
          $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders
           |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
           |ORDER BY c_custkey""".stripMargin))

  /** Left-semi join. */
  private val qSemi = QueryDef(
    "q_semi_join",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "supplier")
        .join(t(s, dir, "lineitem").where($"l_quantity" >= 50),
          $"s_suppkey" === $"l_suppkey", "left_semi")
        .select($"s_suppkey", $"s_name")
        .orderBy($"s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name FROM supplier
           |WHERE EXISTS (SELECT 1 FROM lineitem
           |              WHERE l_suppkey = s_suppkey AND l_quantity >= 50)
           |ORDER BY s_suppkey""".stripMargin))

  /** JSON plucking — qetch's API-JSON field extraction analog (O4). */
  private val qJson = QueryDef(
    "q_json_extract",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"event_type", get_json_object($"props", "$.k").cast("bigint").as("k"))
        .groupBy($"event_type")
        .agg(count("*").as("n"), sum($"k").as("sum_k"), min($"k").as("min_k"), max($"k").as("max_k"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(k) AS BIGINT) AS sum_k, CAST(min(k) AS BIGINT) AS min_k,
           |  CAST(max(k) AS BIGINT) AS max_k
           |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
           |GROUP BY 1 ORDER BY event_type""".stripMargin))

  /** Time bucketing (batch analog of a tumbling window aggregation). */
  private val qTime = QueryDef(
    "q_time_bucket",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"event_type")
        .agg(count("*").as("n"), sum(cents($"value")).as("value_cents"))
        .orderBy($"hour", $"event_type")
    },
    Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           |  event_type, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS value_cents
           |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin))

  /** UDTF surface: 1 row → N rows explode (qetch handle_* generators, O4). */
  private val qExplode = QueryDef(
    "q_explode_tokens",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(explode(split($"text", " ")).as("word"))
        .groupBy($"word").agg(count("*").as("n"))
        .orderBy($"n".desc, $"word")
        .limit(20)
    },
    Some("""SELECT word, CAST(count(*) AS BIGINT) AS n
           |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           |GROUP BY 1 ORDER BY n DESC, word LIMIT 20""".stripMargin))

  /** Ordered reassembly — in-row array sort + concat (O13: order-preserving
    * fragment merge; sorting inside the row costs no shuffle). */
  private val qReassembly = QueryDef(
    "q_array_reassembly",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 20)
        .select($"doc_id",
          array_join(array_sort(slice(split($"text", " "), 1, 8)), " ").as("head_sorted"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  array_to_string(list_sort(string_split(text, ' ')[1:8]), ' ') AS head_sorted
           |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin))

  /** Distinct counting. */
  private val qDistinct = QueryDef(
    "q_distinct_count",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .agg(countDistinct($"source").as("srcs"),
          countDistinct($"lang").as("langs"),
          count("*").as("n"))
    },
    Some("""SELECT CAST(count(DISTINCT source) AS BIGINT) AS srcs,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS langs,
           |  CAST(count(*) AS BIGINT) AS n FROM documents""".stripMargin))

  /** approx_count_distinct (HLL) surface. The two engines run DIFFERENT
    * sketches, so the estimates themselves can never hash-match; each side
    * instead asserts ITS OWN estimate against the exact count (tight 5%
    * band for small cardinalities where HLL sparse mode is near-exact, 15%
    * for doc_id) and emits the booleans + exact counts — an oracle-checkable
    * contract for an approximate operator. */
  private val qApproxDistinct = QueryDef(
    "q_approx_distinct",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .agg(
          countDistinct($"source").as("srcs_exact"),
          countDistinct($"lang").as("langs_exact"),
          (abs(approx_count_distinct($"source") - countDistinct($"source")).cast("double")
            <= countDistinct($"source").cast("double") * 0.05).as("src_approx_ok"),
          (abs(approx_count_distinct($"doc_id") - countDistinct($"doc_id")).cast("double")
            <= countDistinct($"doc_id").cast("double") * 0.15).as("doc_approx_ok"))
    },
    Some("""SELECT CAST(count(DISTINCT source) AS BIGINT) AS srcs_exact,
           |  CAST(count(DISTINCT lang) AS BIGINT) AS langs_exact,
           |  CAST(abs(approx_count_distinct(source) - count(DISTINCT source)) AS DOUBLE)
           |    <= CAST(count(DISTINCT source) AS DOUBLE) * 0.05 AS src_approx_ok,
           |  CAST(abs(approx_count_distinct(doc_id) - count(DISTINCT doc_id)) AS DOUBLE)
           |    <= CAST(count(DISTINCT doc_id) AS DOUBLE) * 0.15 AS doc_approx_ok
           |FROM documents""".stripMargin))

  /** Full grouping-sets surface: cube(lang, source) with grouping_id. */
  private val qCube = QueryDef(
    "q_agg_cube",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .cube($"lang", $"source")
        .agg(count("*").as("n"), sum($"n_chars").as("chars"),
          grouping_id().cast("bigint").as("gid"))
        .select(coalesce($"lang", lit("ALL")).as("lang"),
          coalesce($"source", lit("ALL")).as("source"), $"gid", $"n", $"chars")
        .orderBy($"gid", $"lang", $"source")
    },
    Some("""SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
           |  CAST(GROUPING(lang, source) AS BIGINT) AS gid,
           |  CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents GROUP BY CUBE(lang, source)
           |ORDER BY gid, lang, source""".stripMargin))

  /** Approximate percentiles (GK sketch): mergeable map-side summaries —
    * the scale path for quantiles over 100 TB (an exact percentile needs a
    * full sort; the sketch shuffles one summary per partition). With
    * accuracy >> group size the sketch is EXACT, which is what makes a
    * hash-equal DuckDB oracle possible at test scale; at production scale
    * the same plan degrades gracefully to epsilon-rank error. */
  private val qApproxQuantile = QueryDef(
    "q_approx_quantile",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.9), 1000000)").as("q"),
          count(lit(1)).as("n"))
        .select($"l_returnflag", element_at($"q", 1).as("q25"),
          element_at($"q", 2).as("q50"), element_at($"q", 3).as("q90"), $"n")
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
           |  quantile_disc(l_quantity, 0.25) AS q25,
           |  quantile_disc(l_quantity, 0.5) AS q50,
           |  quantile_disc(l_quantity, 0.9) AS q90,
           |  CAST(count(*) AS BIGINT) AS n
           |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Set ops: distinct EXCEPT (sources minus low-volume sources). */
  private val qExcept = QueryDef(
    "q_set_except",
    (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      d.select($"source").distinct()
        .except(d.groupBy($"source").agg(count("*").as("n"))
          .where($"n" < 20).select($"source"))
        .orderBy($"source")
    },
    Some("""SELECT DISTINCT source FROM documents
           |EXCEPT
           |SELECT source FROM documents GROUP BY source HAVING count(*) < 20
           |ORDER BY source""".stripMargin))

  /** Scalar function surface: string/cast/concat over events. */
  private val qScalar = QueryDef(
    "q_scalar_funcs",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .where($"event_id" < 100)
        .select($"event_id",
          upper($"event_type").as("etype"),
          length($"props").as("props_len"),
          concat_ws("-", $"event_type", $"user_id".cast("string")).as("tag"),
          substring($"props", 1, 5).as("props_head"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id, upper(event_type) AS etype,
           |  CAST(length(props) AS INT) AS props_len,
           |  concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS tag,
           |  substr(props, 1, 5) AS props_head
           |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin))

  /** Skew-safe aggregation: explicit two-phase salted groupBy in Spark
    * (SURVEY.md §2C salting); the oracle is the plain GROUP BY it must
    * equal. Salting changes the plan, never the result. */
  private val qSalted = QueryDef(
    "q_salted_agg",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("salt", pmod(hash($"doc_id"), lit(8)))
        .groupBy($"source", $"salt")
        .agg(count("*").as("pn"), sum($"n_chars").as("pchars"))
        .groupBy($"source")
        .agg(sum($"pn").as("n"), sum($"pchars").as("chars"))
        .orderBy($"source")
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  /** Skew-safe JOIN (ops.Skew.saltedJoin): the zipf-hot big side is salted
    * k ways, the dimension side replicated k× — result-identical to the
    * plain join the oracle runs, but each hot key spreads over k reducers. */
  private val qSaltedJoin = QueryDef(
    "q_salted_join",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").select($"doc_id", $"source", $"n_chars")
      val dims = docs.select($"source").distinct()
        .withColumn("grp", substring($"source", 4, 10).cast("int") % 4)
      ops.Skew.saltedJoin(docs, dims, "source", 8)
        .groupBy($"grp").agg(count("*").as("n"), sum($"n_chars").as("chars"))
        .orderBy($"grp")
    },
    Some("""WITH dims AS (SELECT DISTINCT source,
           |    CAST(substr(source, 4) AS INT) % 4 AS grp FROM documents)
           |SELECT grp, CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(n_chars) AS BIGINT) AS chars
           |FROM documents JOIN dims USING (source)
           |GROUP BY grp ORDER BY grp""".stripMargin))

  /** Count-Min sketch frequencies (ops.Cms): build a 4×64 sketch over the
    * documents' source column (constant depth×width state, mergeable by
    * cell-wise sum — the running heavy-hitter view a streaming ingest
    * keeps without rescanning), estimate every distinct source, and emit
    * the estimate beside the exact count with the one-sided soundness
    * flag (est >= exact ALWAYS; width 64 forces visible collision
    * overcounts). The oracle replays every cell and min from the shared
    * 60-bit md5 recipe — collisions included, all-integer, hash-exact. */
  private val qCmsHeavy = QueryDef(
    "q_cms_heavy",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").where($"source".isNotNull)
        .select($"source".as("key"))
      val sk = ops.Cms.build(docs, "key", depth = 4, width = 64)
      ops.Cms.estimate(docs.distinct(), "key", sk, depth = 4, width = 64)
        .join(docs.groupBy($"key").agg(count(lit(1)).as("exact")), "key")
        .select($"key", $"est", $"exact", ($"est" >= $"exact").as("sound"))
        .orderBy($"key")
    },
    Some {
      val src = "SELECT source AS key FROM documents WHERE source IS NOT NULL"
      s"""WITH cms AS MATERIALIZED (${ops.Cms.buildSql(src, 4, 64)}),
         |est AS (${ops.Cms.estimateSql(s"SELECT DISTINCT key FROM ($src)", "cms", 4, 64)}),
         |ex AS (SELECT source AS key, count(*) AS exact FROM documents
         |  WHERE source IS NOT NULL GROUP BY 1)
         |SELECT key, est, exact, est >= exact AS sound
         |FROM est JOIN ex USING (key) ORDER BY key""".stripMargin
    })

  /** Hot-key DETECTION + auto-salted join (ops.Skew.detectHotKeys /
    * saltedJoinAuto): skew is planted (every even doc_id shares one key),
    * the detector's partial-agg count chooses per-key salt factors
    * (ceil(n/target), integer math), and the auto-salted join must be
    * result-identical to the plain join the oracle runs. Output: per-key
    * joined row count + the detector's chosen salt (1 for cold keys). */
  private val qSkewDetect = QueryDef(
    "q_skew_detect",
    (s, dir) => {
      import s.implicits._
      val big = t(s, dir, "documents")
        .select($"doc_id", when($"doc_id" % 2 === 0, "hot").otherwise($"source").as("key"))
      val det = ops.Skew.detectHotKeys(big, "key", targetRows = 50L)
      val dims = big.select($"key").distinct()
        .withColumn("policy", concat(lit("p_"), $"key"))
      ops.Skew.saltedJoinAuto(big, dims, "key", targetRows = 50L)
        .groupBy($"key").agg(count(lit(1)).cast("bigint").as("jn"))
        .join(det.select($"key", $"salt"), Seq("key"), "left")
        .select($"key", $"jn", coalesce($"salt", lit(1)).cast("int").as("salt"))
        .orderBy($"key")
    },
    Some("""WITH big AS (SELECT doc_id,
           |    CASE WHEN doc_id % 2 = 0 THEN 'hot' ELSE source END AS key
           |  FROM documents),
           |cnt AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY key),
           |det AS (SELECT key, CAST((n + 49) // 50 AS INT) AS salt
           |        FROM cnt WHERE (n + 49) // 50 > 1),
           |dims AS (SELECT DISTINCT key, 'p_' || key AS policy FROM big),
           |j AS (SELECT b.key, CAST(count(*) AS BIGINT) AS jn
           |      FROM big b JOIN dims d ON b.key = d.key GROUP BY b.key)
           |SELECT j.key AS key, jn, CAST(coalesce(det.salt, 1) AS INT) AS salt
           |FROM j LEFT JOIN det ON j.key = det.key ORDER BY j.key""".stripMargin))

  /** O13 as a distributed group-by: exploded (pos, word) rows re-assembled
    * into the original document — order carried by data (pos), restored by
    * in-row array_sort after collect_list; exactly the fragment-merge
    * invariant (qetch downloaders/http.py ordered concat). */
  private val qReassembleGroupBy = QueryDef(
    "q_reassemble_groupby",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 50)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
        .groupBy($"doc_id")
        .agg(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, word))), x -> x.word)"))
          .as("rebuilt"))
        .orderBy($"doc_id")
    },
    Some("""WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           |                   generate_subscripts(string_split(text, ' '), 1) AS pos
           |            FROM documents WHERE doc_id < 50)
           |SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS rebuilt
           |FROM ex GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Session windows via gap detection (30-min inactivity): lag + running
    * sum — the sessionization idiom over the events stream table. */
  private val qSessionize = QueryDef(
    "q_sessionize",
    (s, dir) => {
      import s.implicits._
      val byUser = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
      t(s, dir, "events")
        .where($"user_id" < 50)
        .withColumn("lag_ts", lag($"ts", 1).over(byUser))
        .withColumn("new_s",
          when($"lag_ts".isNull || expr("ts > lag_ts + INTERVAL 30 MINUTE"), 1)
            .otherwise(0))
        .withColumn("sess", sum($"new_s").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id")
        .agg(max($"sess").cast("bigint").as("sessions"), count("*").as("events"))
        .orderBy($"user_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, ts,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
           |  FROM events WHERE user_id < 50
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT user_id, sum(new_s) OVER (PARTITION BY user_id
           |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM e)
           |SELECT user_id, CAST(max(sess) AS BIGINT) AS sessions,
           |  CAST(count(*) AS BIGINT) AS events
           |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin))

  /** O9 auth-registry analog: broadcast per-source policy config applied as
    * a gating column (qetch auth.py::AuthRegistry — Borg global → literal
    * map / broadcast). */
  private val qAuthGate = QueryDef(
    "q_auth_gate",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("policy", coalesce(
          element_at(
            typedLit(Registry.sourcePolicy), $"source"),
          lit("none")))
        .groupBy($"policy")
        .agg(count("*").as("n"), countDistinct($"source").as("sources"))
        .orderBy($"policy")
    },
    Some {
      val cases = Registry.sourcePolicy
        .map { case (src, pol) => s"WHEN source = '$src' THEN '$pol'" }
        .toSeq.sorted.mkString(" ")
      s"""SELECT policy, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT source) AS BIGINT) AS sources
         |FROM (SELECT source, CASE $cases ELSE 'none' END AS policy FROM documents)
         |GROUP BY 1 ORDER BY policy""".stripMargin
    })

  // ------------------------------------------------------------------
  // Training-data pipeline: deduplication
  // ------------------------------------------------------------------

  /** Exact dedup: content-hash grouping with keep-first semantics. */
  private val qDedupExact = QueryDef(
    "q_dedup_exact",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy(md5($"text").as("h"))
        .agg(min($"doc_id").as("keep_id"), count("*").as("c"))
        .orderBy($"h")
    },
    Some("""SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id,
           |  CAST(count(*) AS BIGINT) AS c
           |FROM documents GROUP BY 1 ORDER BY h""".stripMargin))

  /** MinHash signatures over word 3-gram shingles (K=4 salted min-md5) —
    * the signature stage of MinHash-LSH near-dup detection; entirely
    * higher-order array functions, no UDF, fully codegen'd. */
  private val qMinhash = QueryDef(
    "q_dedup_minhash",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 100)
        .select($"doc_id", split($"text", " ").as("ws"))
        .where(size($"ws") >= 3)
        .select($"doc_id", expr(
          """transform(sequence(0, size(ws)-3),
            |  i -> concat_ws(' ', element_at(ws, i+1), element_at(ws, i+2), element_at(ws, i+3)))
            |""".stripMargin).as("shingles"))
        .select($"doc_id",
          expr("array_min(transform(shingles, s -> md5(concat('0:', s))))").as("sig0"),
          expr("array_min(transform(shingles, s -> md5(concat('1:', s))))").as("sig1"),
          expr("array_min(transform(shingles, s -> md5(concat('2:', s))))").as("sig2"),
          expr("array_min(transform(shingles, s -> md5(concat('3:', s))))").as("sig3"))
        .orderBy($"doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
           |           FROM documents WHERE doc_id < 100),
           |sh AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
           |       FROM (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
           |             FROM w WHERE len(ws) >= 3))
           |SELECT doc_id, min(md5('0:' || shingle)) AS sig0,
           |  min(md5('1:' || shingle)) AS sig1, min(md5('2:' || shingle)) AS sig2,
           |  min(md5('3:' || shingle)) AS sig3
           |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** SimHash (16-bit demo) from per-word 60-bit md5-derived integers —
    * portable across engines via the hex→bigint bridge. */
  private val qSimhash = QueryDef(
    "q_dedup_simhash",
    (s, dir) => {
      import s.implicits._
      val hv = conv(substring(md5($"word"), 1, 15), 16, 10).cast("bigint")
      val bits = (0 until 16).map { i =>
        when(sum(when(shiftright(col("hv"), i).bitwiseAND(1) === 1, 1).otherwise(-1)) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      t(s, dir, "documents")
        .where($"doc_id" < 100)
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .withColumn("hv", hv)
        .groupBy($"doc_id")
        .agg(bits.cast("bigint").as("simhash16"))
        .orderBy($"doc_id")
    },
    Some {
      val bits = (0 until 16).map(i =>
        s"(CASE WHEN sum(CASE WHEN (hv >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |           FROM documents WHERE doc_id < 100),
         |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv FROM t)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash16
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** N-gram Jaccard near-dup detection through the SCALE path
    * (ops.Dedup.nearDupPairs): MinHash-LSH banded candidates → exact
    * word-set Jaccard verify — never an all-pairs-by-token self-join (hot
    * tokens make that quadratic at corpus scale). Planted near-dups (one
    * word appended) must surface with jaccard ≥ 0.5; the oracle replays
    * signature, banding and verification in SQL. */
  private val qJaccard = QueryDef(
    "q_ngram_jaccard",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 50).select($"doc_id", $"text")
      val corpus = base.union(base.select(($"doc_id" + 1000).as("doc_id"),
        concat($"text", lit(" extra")).as("text")))
      ops.Dedup.nearDupPairs(corpus, "doc_id", "text", k = 8, bands = 4, threshold = 0.5)
        .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 50),
           |corpus AS (SELECT doc_id, text FROM base
           |           UNION ALL SELECT doc_id + 1000, text || ' extra' FROM base),
           |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
           |sh AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
           |       FROM (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
           |             FROM w WHERE len(ws) >= 3)),
           |sig AS (SELECT doc_id,
           |  min(md5('0:' || shingle)) AS s0, min(md5('1:' || shingle)) AS s1,
           |  min(md5('2:' || shingle)) AS s2, min(md5('3:' || shingle)) AS s3,
           |  min(md5('4:' || shingle)) AS s4, min(md5('5:' || shingle)) AS s5,
           |  min(md5('6:' || shingle)) AS s6, min(md5('7:' || shingle)) AS s7
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  SELECT doc_id, 0 AS band, md5(s0 || '|' || s1) AS bandhash FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(s2 || '|' || s3) FROM sig
           |  UNION ALL SELECT doc_id, 2, md5(s4 || '|' || s5) FROM sig
           |  UNION ALL SELECT doc_id, 3, md5(s6 || '|' || s7) FROM sig),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y
           |    ON x.band = y.band AND x.bandhash = y.bandhash AND x.doc_id < y.doc_id),
           |words AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM corpus),
           |j AS (SELECT id_a, id_b,
           |    len(list_intersect(wa.wset, wb.wset)) AS inter,
           |    len(list_distinct(list_concat(wa.wset, wb.wset))) AS uni
           |  FROM cand JOIN words wa ON wa.doc_id = id_a
           |            JOIN words wb ON wb.doc_id = id_b)
           |SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
           |FROM j WHERE CAST(inter AS DOUBLE) / uni >= 0.5
           |ORDER BY id_a, id_b""".stripMargin))

  /** Near-dup cluster RESOLUTION (ops.Dedup.resolveClusters): pairs →
    * connected components → canonical keeper per cluster, via iterative
    * small-star/large-star edge rewriting (never a driver-side union-find).
    * The planted graph has 4-chains, 3-chains, 2-chains and reversed /
    * duplicate pair orientations; the oracle replays the components with a
    * recursive transitive-closure CTE and must agree on every (id,
    * cluster_id, keep) row. */
  private val qDedupResolve = QueryDef(
    "q_dedup_resolve",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id")
      // chains: i<5 → {i, i+1000, i+2000, i+3000}; 5≤i<10 → {i, i+1000,
      // i+2000}; 10≤i<20 → {i, i+1000}. Orientation deliberately mixed.
      val pairs = base.where($"doc_id" < 20)
        .select($"doc_id".as("id_a"), ($"doc_id" + 1000).as("id_b"))
        .union(base.where($"doc_id" < 10)
          .select(($"doc_id" + 2000).as("id_a"), ($"doc_id" + 1000).as("id_b")))
        .union(base.where($"doc_id" < 5)
          .select(($"doc_id" + 2000).as("id_a"), ($"doc_id" + 3000).as("id_b")))
        .union(base.where($"doc_id" < 20) // duplicate edges, reversed
          .select(($"doc_id" + 1000).as("id_a"), $"doc_id".as("id_b")))
      ops.Dedup.resolveClusters(pairs)
        .orderBy($"id")
    },
    Some("""WITH RECURSIVE pairs AS (
           |  SELECT doc_id AS id_a, doc_id + 1000 AS id_b FROM documents WHERE doc_id < 20
           |  UNION ALL
           |  SELECT doc_id + 2000, doc_id + 1000 FROM documents WHERE doc_id < 10
           |  UNION ALL
           |  SELECT doc_id + 2000, doc_id + 3000 FROM documents WHERE doc_id < 5
           |  UNION ALL
           |  SELECT doc_id + 1000, doc_id FROM documents WHERE doc_id < 20),
           |nodes AS (SELECT DISTINCT id FROM
           |  (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id)
           |SELECT id, CAST(min(r) AS BIGINT) AS cluster_id,
           |  (id = min(r)) AS keep
           |FROM reach GROUP BY id ORDER BY id""".stripMargin))

  /** The dedup DELIVERABLE end-to-end (ops.Dedup.dedupCorpus): a corpus
    * with planted duplicate chains goes in, the deduplicated corpus comes
    * out — cluster resolution + anti-join; unpaired docs pass through.
    * Oracle: recursive components → losers → NOT IN. */
  private val qDedupCorpusQ = QueryDef(
    "q_dedup_corpus",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 30).select($"doc_id", $"text")
      val corpus = base
        .union(base.where($"doc_id" < 20).select(($"doc_id" + 1000).as("doc_id"), $"text"))
        .union(base.where($"doc_id" < 10).select(($"doc_id" + 2000).as("doc_id"), $"text"))
        .union(base.where($"doc_id" < 5).select(($"doc_id" + 3000).as("doc_id"), $"text"))
      val pairs = base.where($"doc_id" < 20)
        .select($"doc_id".as("id_a"), ($"doc_id" + 1000).as("id_b"))
        .union(base.where($"doc_id" < 10)
          .select(($"doc_id" + 2000).as("id_a"), ($"doc_id" + 1000).as("id_b")))
      ops.Dedup.dedupCorpus(corpus, "doc_id", pairs)
        .select($"doc_id", md5($"text").as("h"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
           |corpus AS (
           |  SELECT doc_id, text FROM base
           |  UNION ALL SELECT doc_id + 1000, text FROM base WHERE doc_id < 20
           |  UNION ALL SELECT doc_id + 2000, text FROM base WHERE doc_id < 10
           |  UNION ALL SELECT doc_id + 3000, text FROM base WHERE doc_id < 5),
           |pairs AS (
           |  SELECT doc_id AS id_a, doc_id + 1000 AS id_b FROM base WHERE doc_id < 20
           |  UNION ALL SELECT doc_id + 2000, doc_id + 1000 FROM base WHERE doc_id < 10),
           |nodes AS (SELECT DISTINCT id FROM
           |  (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
           |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
           |SELECT doc_id, md5(text) AS h FROM corpus
           |WHERE doc_id NOT IN (SELECT id FROM losers)
           |ORDER BY doc_id""".stripMargin))

  /** Capped cluster dedup (ops.Dedup.dedupCorpusCapped): same planted
    * duplicate chains as q_dedup_corpus, but every near-dup cluster keeps
    * its TWO smallest ids (the mixture-control retention knob; m = 1
    * reduces to dedupCorpus). Oracle: recursive components → rank within
    * component → NOT IN beyond rank 2. */
  private val qDedupCapped = QueryDef(
    "q_dedup_capped",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 30).select($"doc_id", $"text")
      val corpus = base
        .union(base.where($"doc_id" < 20).select(($"doc_id" + 1000).as("doc_id"), $"text"))
        .union(base.where($"doc_id" < 10).select(($"doc_id" + 2000).as("doc_id"), $"text"))
        .union(base.where($"doc_id" < 5).select(($"doc_id" + 3000).as("doc_id"), $"text"))
      val pairs = base.where($"doc_id" < 20)
        .select($"doc_id".as("id_a"), ($"doc_id" + 1000).as("id_b"))
        .union(base.where($"doc_id" < 10)
          .select(($"doc_id" + 2000).as("id_a"), ($"doc_id" + 1000).as("id_b")))
        .union(base.where($"doc_id" < 5)
          .select(($"doc_id" + 2000).as("id_a"), ($"doc_id" + 3000).as("id_b")))
      ops.Dedup.dedupCorpusCapped(corpus, "doc_id", pairs, m = 2)
        .select($"doc_id", md5($"text").as("h"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
           |corpus AS (
           |  SELECT doc_id, text FROM base
           |  UNION ALL SELECT doc_id + 1000, text FROM base WHERE doc_id < 20
           |  UNION ALL SELECT doc_id + 2000, text FROM base WHERE doc_id < 10
           |  UNION ALL SELECT doc_id + 3000, text FROM base WHERE doc_id < 5),
           |pairs AS (
           |  SELECT doc_id AS id_a, doc_id + 1000 AS id_b FROM base WHERE doc_id < 20
           |  UNION ALL SELECT doc_id + 2000, doc_id + 1000 FROM base WHERE doc_id < 10
           |  UNION ALL SELECT doc_id + 2000, doc_id + 3000 FROM base WHERE doc_id < 5),
           |nodes AS (SELECT DISTINCT id FROM
           |  (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
           |comp AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
           |rk AS (SELECT id, row_number() OVER (PARTITION BY cid ORDER BY id) AS r
           |  FROM comp),
           |losers AS (SELECT id FROM rk WHERE r > 2)
           |SELECT doc_id, md5(text) AS h FROM corpus
           |WHERE doc_id NOT IN (SELECT id FROM losers)
           |ORDER BY doc_id""".stripMargin))

  /** Quality-aware cluster dedup (ops.Dedup.dedupCorpusBest): every
    * near-dup cluster keeps its highest-scoring member (score = word
    * count here; clones carry two planted extra words, so the CLONE must
    * beat the original — distinguishable from min-id retention), ties
    * broken toward the smaller id (the 20≤id<25 equal-text pairs pin the
    * tie-break). Oracle: recursive components → rank by (score desc, id)
    * within component → NOT IN beyond rank 1. */
  private val qDedupBest = QueryDef(
    "q_dedup_best",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 30).select($"doc_id", $"text")
      val corpus = base
        .union(base.where($"doc_id" < 20)
          .select(($"doc_id" + 1000).as("doc_id"), concat($"text", lit(" extra extra")).as("text")))
        .union(base.where($"doc_id" < 10).select(($"doc_id" + 2000).as("doc_id"), $"text"))
        .union(base.where($"doc_id" >= 20 && $"doc_id" < 25)
          .select(($"doc_id" + 5000).as("doc_id"), $"text"))
        .withColumn("nw", size(split($"text", " ")))
      val pairs = base.where($"doc_id" < 20)
        .select($"doc_id".as("id_a"), ($"doc_id" + 1000).as("id_b"))
        .union(base.where($"doc_id" < 10)
          .select(($"doc_id" + 2000).as("id_a"), ($"doc_id" + 1000).as("id_b")))
        .union(base.where($"doc_id" >= 20 && $"doc_id" < 25)
          .select($"doc_id".as("id_a"), ($"doc_id" + 5000).as("id_b")))
      ops.Dedup.dedupCorpusBest(corpus, "doc_id", "nw", pairs)
        .select($"doc_id", md5($"text").as("h"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
           |corpus AS (
           |  SELECT doc_id, text FROM base
           |  UNION ALL SELECT doc_id + 1000, text || ' extra extra' FROM base WHERE doc_id < 20
           |  UNION ALL SELECT doc_id + 2000, text FROM base WHERE doc_id < 10
           |  UNION ALL SELECT doc_id + 5000, text FROM base WHERE doc_id >= 20 AND doc_id < 25),
           |pairs AS (
           |  SELECT doc_id AS id_a, doc_id + 1000 AS id_b FROM base WHERE doc_id < 20
           |  UNION ALL SELECT doc_id + 2000, doc_id + 1000 FROM base WHERE doc_id < 10
           |  UNION ALL SELECT doc_id, doc_id + 5000 FROM base WHERE doc_id >= 20 AND doc_id < 25),
           |nodes AS (SELECT DISTINCT id FROM
           |  (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
           |comp AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
           |scored AS (SELECT comp.id, comp.cid,
           |    len(string_split(corpus.text, ' ')) AS nw
           |  FROM comp JOIN corpus ON corpus.doc_id = comp.id),
           |rk AS (SELECT id, row_number() OVER (
           |    PARTITION BY cid ORDER BY nw DESC, id) AS r FROM scored),
           |losers AS (SELECT id FROM rk WHERE r > 1)
           |SELECT doc_id, md5(text) AS h FROM corpus
           |WHERE doc_id NOT IN (SELECT id FROM losers)
           |ORDER BY doc_id""".stripMargin))

  /** Incremental dedup (ops.Dedup.incrementalDedup) — admit only delta
    * rows that survive dedup against an immutable already-deduped corpus:
    * exact copies and LSH-verified near-dups of the corpus are dropped,
    * within-delta clusters keep one member, and a cluster ANY member of
    * which matches the corpus is dropped whole (transitive closure). The
    * oracle replays both LSH passes (8-sig/4-band on each side), the
    * Jaccard verifies, and the recursive component/poisoning logic. */
  /** Shared corpus/delta fixture of the two incremental-dedup queries
    * (corpus-path and index-path admission must decide identically, so
    * they share the fixture AND the oracle). */
  private def incrFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val base = t(s, dir, "documents").select($"doc_id", $"text")
    val corpus = base.where($"doc_id" < 40)
    val delta = base.where($"doc_id" < 10)
      .select(($"doc_id" + 1000).as("doc_id"), $"text")
      .union(base.where($"doc_id" >= 10 && $"doc_id" < 20)
        .select(($"doc_id" + 2000).as("doc_id"), concat($"text", lit(" extra")).as("text")))
      .union(base.where($"doc_id" >= 40 && $"doc_id" < 50)
        .select(($"doc_id" + 3000).as("doc_id"), $"text"))
      .union(base.where($"doc_id" >= 50 && $"doc_id" < 55)
        .select(($"doc_id" + 4000).as("doc_id"), concat($"text", lit(" alt")).as("text")))
      .union(base.where($"doc_id" >= 50 && $"doc_id" < 55)
        .select(($"doc_id" + 5000).as("doc_id"), concat($"text", lit(" alt more")).as("text")))
    (corpus, delta)
  }

  private val qDedupIncremental = QueryDef(
    "q_dedup_incremental",
    (s, dir) => {
      import s.implicits._
      val (corpus, delta) = incrFixture(s, dir)
      ops.Dedup.incrementalDedup(delta, corpus, "doc_id", "text", threshold = 0.7)
        .select($"doc_id", md5($"text").as("h"))
        .orderBy($"doc_id")
    },
    Some {
      def sig(src: String, p: String) =
        s"""${p}w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
           |${p}sh AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
           |       FROM (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
           |             FROM ${p}w WHERE len(ws) >= 3)),
           |${p}sig AS (SELECT doc_id,
           |  min(md5('0:' || shingle)) AS s0, min(md5('1:' || shingle)) AS s1,
           |  min(md5('2:' || shingle)) AS s2, min(md5('3:' || shingle)) AS s3,
           |  min(md5('4:' || shingle)) AS s4, min(md5('5:' || shingle)) AS s5,
           |  min(md5('6:' || shingle)) AS s6, min(md5('7:' || shingle)) AS s7
           |  FROM ${p}sh GROUP BY doc_id),
           |${p}band AS (
           |  SELECT doc_id, 0 AS band, md5(s0 || '|' || s1) AS bandhash FROM ${p}sig
           |  UNION ALL SELECT doc_id, 1, md5(s2 || '|' || s3) FROM ${p}sig
           |  UNION ALL SELECT doc_id, 2, md5(s4 || '|' || s5) FROM ${p}sig
           |  UNION ALL SELECT doc_id, 3, md5(s6 || '|' || s7) FROM ${p}sig)"""
          .stripMargin
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
         |corpus AS (SELECT doc_id, text FROM base WHERE doc_id < 40),
         |delta0 AS (
         |  SELECT doc_id + 1000 AS doc_id, text FROM base WHERE doc_id < 10
         |  UNION ALL SELECT doc_id + 2000, text || ' extra' FROM base WHERE doc_id >= 10 AND doc_id < 20
         |  UNION ALL SELECT doc_id + 3000, text FROM base WHERE doc_id >= 40 AND doc_id < 50
         |  UNION ALL SELECT doc_id + 4000, text || ' alt' FROM base WHERE doc_id >= 50 AND doc_id < 55
         |  UNION ALL SELECT doc_id + 5000, text || ' alt more' FROM base WHERE doc_id >= 50 AND doc_id < 55),
         |dex AS (SELECT doc_id, text FROM delta0
         |        WHERE doc_id IN (SELECT min(doc_id) FROM delta0 GROUP BY md5(text))),
         |de AS (SELECT * FROM dex WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
         |${sig("de", "d")},
         |${sig("corpus", "c")},
         |across AS (SELECT DISTINCT d.doc_id AS id_a, c.doc_id AS id_b
         |  FROM dband d JOIN cband c ON d.band = c.band AND d.bandhash = c.bandhash),
         |dwords AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM de),
         |cwords AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM corpus),
         |matched AS (SELECT DISTINCT id_a FROM
         |  (SELECT id_a, len(list_intersect(a.wset, b.wset)) AS inter,
         |          len(list_distinct(list_concat(a.wset, b.wset))) AS uni
         |   FROM across JOIN dwords a ON a.doc_id = id_a JOIN cwords b ON b.doc_id = id_b)
         |  WHERE CAST(inter AS DOUBLE) / uni >= 0.7),
         |wcand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM dband x JOIN dband y
         |    ON x.band = y.band AND x.bandhash = y.bandhash AND x.doc_id < y.doc_id),
         |wpairs AS (SELECT id_a, id_b FROM
         |  (SELECT id_a, id_b, len(list_intersect(a.wset, b.wset)) AS inter,
         |          len(list_distinct(list_concat(a.wset, b.wset))) AS uni
         |   FROM wcand JOIN dwords a ON a.doc_id = id_a JOIN dwords b ON b.doc_id = id_b)
         |  WHERE CAST(inter AS DOUBLE) / uni >= 0.7),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM wpairs UNION SELECT id_b FROM wpairs)),
         |edges AS (SELECT id_a AS u, id_b AS v FROM wpairs
         |          UNION SELECT id_b, id_a FROM wpairs),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
         |comp AS (SELECT id, min(r) AS root FROM reach GROUP BY id),
         |proots AS (SELECT DISTINCT comp.root FROM comp JOIN matched ON comp.id = matched.id_a),
         |drops AS (SELECT id FROM comp WHERE id <> root
         |  UNION SELECT id FROM comp WHERE root IN (SELECT root FROM proots)
         |  UNION SELECT id_a FROM matched)
         |SELECT doc_id, md5(text) AS h FROM de
         |WHERE doc_id NOT IN (SELECT id FROM drops)
         |ORDER BY doc_id""".stripMargin
    })

  /** Index-path incremental dedup (ops.Dedup.incrementalDedupIndexed over
    * a PERSISTED ops.Dedup.buildIndex relation staged to parquet and read
    * back): same fixture and same ORACLE as q_dedup_incremental — the
    * index path must make identical admission decisions while never
    * hashing or signaturing the corpus text. */
  private val qDedupIndexQ = QueryDef(
    "q_dedup_index",
    (s, dir) => {
      import s.implicits._
      val (corpus, delta) = incrFixture(s, dir)
      val ixPath = s"$corpusDir/dedup_index_demo"
      Queries.synchronized {
        ops.Dedup.buildIndex(corpus, "doc_id", "text")
          .write.mode("overwrite").parquet(ixPath)
      }
      ops.Dedup.incrementalDedupIndexed(delta, corpus, s.read.parquet(ixPath),
          "doc_id", "text", threshold = 0.7)
        .select($"doc_id", md5($"text").as("h"))
        .orderBy($"doc_id")
    },
    qDedupIncremental.oracle)

  /** Streaming admission + reshard end-to-end: batch 1 bootstraps an
    * indexed corpus table at corpusBuckets=1 (within-batch exact + LSH
    * dedup, keep-min-id roots), the table is RESHARDED 1→4 sub-buckets
    * (EventStream.reshardCorpus — one commit swaps the physical layout),
    * and batch 2 is admitted THROUGH the resharded index (exact + LSH vs
    * the batch-1 survivors, within-batch clustering, corpus-match
    * poisoning). The query reads the final corpus back through the
    * manifest; the oracle replays both admission rounds in SQL (the
    * incremental-dedup replay family, batch 1 against an empty corpus).
    * Hash equality over (doc_id, md5 text) proves the reshard moved every
    * row exactly once AND that post-reshard admission decisions are
    * identical to the SQL replay — layout migration is invisible to
    * admission semantics. */
  private val qReshardCorpus = QueryDef(
    "q_reshard_corpus",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
      val b1 = base.where($"doc_id" < 40)
      val b2 = base.where($"doc_id" < 10)
        .select(($"doc_id" + 1000).as("doc_id"), $"text")
        .union(base.where($"doc_id" >= 40 && $"doc_id" < 50))
        .union(base.where($"doc_id" < 5)
          .select(($"doc_id" + 2000).as("doc_id"),
            concat($"text", lit(" extra")).as("text")))
      val tbl = s"$corpusDir/reshard_demo"
      Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(tbl))
        streaming.EventStream.admitIndexedBatch(b1, 0L, tbl, "q-reshard",
          "doc_id", "text", 0.7, 8, 4, corpusBuckets = 1)
        streaming.EventStream.reshardCorpus(s, tbl, to = 4)
        streaming.EventStream.admitIndexedBatch(b2, 1L, tbl, "q-reshard",
          "doc_id", "text", 0.7, 8, 4, corpusBuckets = 4)
      }
      streaming.EventStream.readCorpus(s, tbl, 4)
        .select($"doc_id", md5($"text").as("h"))
        .orderBy($"doc_id")
    },
    Some {
      // the same 8-sig / 4-band minhash replay as the incremental oracle,
      // parameterized by source CTE and prefix. `corpus` and `de` are
      // MATERIALIZED: corpus is derived through a recursive CTE and
      // referenced five times downstream — DuckDB's default per-reference
      // inlining re-executes the whole recursion each time, compounding
      // to minutes; materialized, the replay runs in under a second.
      def sig(src: String, p: String) =
        s"""${p}w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
           |${p}sh AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
           |       FROM (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
           |             FROM ${p}w WHERE len(ws) >= 3)),
           |${p}sig AS (SELECT doc_id,
           |  min(md5('0:' || shingle)) AS s0, min(md5('1:' || shingle)) AS s1,
           |  min(md5('2:' || shingle)) AS s2, min(md5('3:' || shingle)) AS s3,
           |  min(md5('4:' || shingle)) AS s4, min(md5('5:' || shingle)) AS s5,
           |  min(md5('6:' || shingle)) AS s6, min(md5('7:' || shingle)) AS s7
           |  FROM ${p}sh GROUP BY doc_id),
           |${p}band AS (
           |  SELECT doc_id, 0 AS band, md5(s0 || '|' || s1) AS bandhash FROM ${p}sig
           |  UNION ALL SELECT doc_id, 1, md5(s2 || '|' || s3) FROM ${p}sig
           |  UNION ALL SELECT doc_id, 2, md5(s4 || '|' || s5) FROM ${p}sig
           |  UNION ALL SELECT doc_id, 3, md5(s6 || '|' || s7) FROM ${p}sig)"""
          .stripMargin
      s"""WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
         |b1 AS (SELECT doc_id, text FROM base WHERE doc_id < 40),
         |e1 AS (SELECT doc_id, text FROM b1
         |       WHERE doc_id IN (SELECT min(doc_id) FROM b1 GROUP BY md5(text))),
         |${sig("e1", "a")},
         |a1words AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM e1),
         |w1cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM aband x JOIN aband y
         |    ON x.band = y.band AND x.bandhash = y.bandhash AND x.doc_id < y.doc_id),
         |w1pairs AS (SELECT id_a, id_b FROM
         |  (SELECT id_a, id_b, len(list_intersect(a.wset, b.wset)) AS inter,
         |          len(list_distinct(list_concat(a.wset, b.wset))) AS uni
         |   FROM w1cand JOIN a1words a ON a.doc_id = id_a JOIN a1words b ON b.doc_id = id_b)
         |  WHERE CAST(inter AS DOUBLE) / uni >= 0.7),
         |n1 AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM w1pairs UNION SELECT id_b FROM w1pairs)),
         |e1dges AS (SELECT id_a AS u, id_b AS v FROM w1pairs
         |           UNION SELECT id_b, id_a FROM w1pairs),
         |reach1(id, r) AS (
         |  SELECT id, id FROM n1
         |  UNION
         |  SELECT e.v, reach1.r FROM reach1 JOIN e1dges e ON e.u = reach1.id),
         |comp1 AS (SELECT id, min(r) AS root FROM reach1 GROUP BY id),
         |corpus AS MATERIALIZED (SELECT doc_id, text FROM e1
         |  WHERE doc_id NOT IN (SELECT id FROM comp1 WHERE id <> root)),
         |delta0 AS (
         |  SELECT doc_id + 1000 AS doc_id, text FROM base WHERE doc_id < 10
         |  UNION ALL SELECT doc_id, text FROM base WHERE doc_id >= 40 AND doc_id < 50
         |  UNION ALL SELECT doc_id + 2000, text || ' extra' FROM base WHERE doc_id < 5),
         |dex AS (SELECT doc_id, text FROM delta0
         |        WHERE doc_id IN (SELECT min(doc_id) FROM delta0 GROUP BY md5(text))),
         |de AS MATERIALIZED (SELECT * FROM dex
         |        WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
         |${sig("de", "d")},
         |${sig("corpus", "c")},
         |across AS (SELECT DISTINCT d.doc_id AS id_a, c.doc_id AS id_b
         |  FROM dband d JOIN cband c ON d.band = c.band AND d.bandhash = c.bandhash),
         |dwords AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM de),
         |cwords AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM corpus),
         |matched AS (SELECT DISTINCT id_a FROM
         |  (SELECT id_a, len(list_intersect(a.wset, b.wset)) AS inter,
         |          len(list_distinct(list_concat(a.wset, b.wset))) AS uni
         |   FROM across JOIN dwords a ON a.doc_id = id_a JOIN cwords b ON b.doc_id = id_b)
         |  WHERE CAST(inter AS DOUBLE) / uni >= 0.7),
         |wcand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM dband x JOIN dband y
         |    ON x.band = y.band AND x.bandhash = y.bandhash AND x.doc_id < y.doc_id),
         |wpairs AS (SELECT id_a, id_b FROM
         |  (SELECT id_a, id_b, len(list_intersect(a.wset, b.wset)) AS inter,
         |          len(list_distinct(list_concat(a.wset, b.wset))) AS uni
         |   FROM wcand JOIN dwords a ON a.doc_id = id_a JOIN dwords b ON b.doc_id = id_b)
         |  WHERE CAST(inter AS DOUBLE) / uni >= 0.7),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM wpairs UNION SELECT id_b FROM wpairs)),
         |edges AS (SELECT id_a AS u, id_b AS v FROM wpairs
         |          UNION SELECT id_b, id_a FROM wpairs),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
         |comp AS (SELECT id, min(r) AS root FROM reach GROUP BY id),
         |proots AS (SELECT DISTINCT comp.root FROM comp JOIN matched ON comp.id = matched.id_a),
         |drops AS (SELECT id FROM comp WHERE id <> root
         |  UNION SELECT id FROM comp WHERE root IN (SELECT root FROM proots)
         |  UNION SELECT id_a FROM matched),
         |final AS (
         |  SELECT doc_id, text FROM corpus
         |  UNION ALL
         |  SELECT doc_id, text FROM de WHERE doc_id NOT IN (SELECT id FROM drops))
         |SELECT doc_id, md5(text) AS h FROM final
         |ORDER BY doc_id""".stripMargin
    })

  /** Exact substring dedup (ops.Dedup.exactSubstringDedup — the Lee et al.
    * 2021 operator): every word-15-gram occurring more than once in the
    * corpus is cut from all but its globally-first occurrence and each
    * document is rebuilt without the cut tokens. Fixture plants cross-doc
    * duplicates (the first 20 words of docs 0–9 copied into fresh docs
    * 9000–9009 with unique tails), so the planted copies lose their head
    * while the originals keep theirs. The oracle replays gram hashing,
    * global first-occurrence ranking, position-union removal, and the
    * token-level rebuild in SQL. */
  private val qSubstrDedup = QueryDef(
    "q_substr_dedup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select($"doc_id", $"text")
        .where($"doc_id" < 300)
      val planted = base
        .where($"doc_id" < 10 && size(split($"text", " ")) >= 20)
        .select(($"doc_id" + 9000).as("doc_id"),
          concat(array_join(slice(split($"text", " "), 1, 20), " "),
            lit(" planted"), $"doc_id".cast("string"), lit(" tail")).as("text"))
      ops.Dedup.exactSubstringDedup(base.union(planted), "doc_id", "text", k = 15)
        .orderBy($"doc_id")
    },
    Some("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
           |planted AS (SELECT doc_id + 9000 AS doc_id,
           |    array_to_string((string_split(text, ' '))[1:20], ' ') ||
           |      ' planted' || CAST(doc_id AS VARCHAR) || ' tail' AS text
           |  FROM base WHERE doc_id < 10 AND len(string_split(text, ' ')) >= 20),
           |fix AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
           |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM fix),
           |occ AS (SELECT doc_id, p, md5(array_to_string(w[p+1:p+15], ' ')) AS h
           |  FROM (SELECT doc_id, w, unnest(range(len(w) - 14)) AS p FROM w)),
           |marked AS (SELECT doc_id, p,
           |    count(*) OVER (PARTITION BY h) AS cnt,
           |    row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
           |  FROM occ),
           |cuts AS (SELECT doc_id, p FROM marked WHERE cnt > 1 AND rn > 1),
           |rm AS (SELECT DISTINCT doc_id, p + pp AS rp
           |  FROM (SELECT doc_id, p, unnest(range(15)) AS pp FROM cuts)),
           |rmagg AS (SELECT doc_id, list(rp) AS rm FROM rm GROUP BY doc_id)
           |SELECT w.doc_id AS doc_id, CAST(len(w.w) AS INT) AS n_tokens,
           |  CAST(coalesce(len(r.rm), 0) AS INT) AS n_removed,
           |  coalesce(array_to_string(list_transform(
           |    list_filter(range(len(w.w)),
           |      i -> NOT list_contains(coalesce(r.rm, CAST([] AS BIGINT[])), i)),
           |    i -> w.w[i+1]), ' '), '') AS new_text
           |FROM w LEFT JOIN rmagg r ON w.doc_id = r.doc_id
           |ORDER BY w.doc_id""".stripMargin))

  /** URL canonicalization + canonical-URL keep-first dedup
    * (ops.Urls.canonicalize / dedupByUrl — the crawl-frontier key): case,
    * default ports, fragments, tracking params, param order, and trailing
    * slashes collapse; `kept` marks each row's keep-first dedup outcome.
    * URLs are synthesized deterministically from doc_id so id-groups
    * collide across scheme/case/tracking variants. */
  private val qUrlCanon = QueryDef(
    "q_url_canon",
    (s, dir) => {
      import s.implicits._
      val urls = t(s, dir, "documents").where($"doc_id" < 120)
        .select($"doc_id", concat(
          when($"doc_id" % 3 === 0, lit("HTTP://Example.COM:80"))
            .when($"doc_id" % 3 === 1, lit("http://example.com"))
            .otherwise(lit("https://Sub.Example.net:443")),
          lit("/Path/p"), ($"doc_id" % 7).cast("string"),
          when($"doc_id" % 2 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&b="), ($"doc_id" % 5).cast("string"), lit("&a=1"),
          when($"doc_id" % 4 === 0, lit("&gclid=xyz")).otherwise(lit("")),
          lit("#frag")).as("url"))
      val canon = urls.withColumn("canon", ops.Urls.canonicalize($"url"))
      val keepers = ops.Urls.dedupByUrl(urls, "doc_id", "url")
        .select($"doc_id".as("kid"))
      canon.join(keepers, $"doc_id" === $"kid", "left")
        .select($"doc_id", $"url", $"canon",
          $"kid".isNotNull.cast("int").as("kept"))
        .orderBy($"doc_id")
    },
    Some("""WITH u AS (SELECT doc_id,
           |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://Example.COM:80'
           |          WHEN doc_id % 3 = 1 THEN 'http://example.com'
           |          ELSE 'https://Sub.Example.net:443' END) ||
           |    '/Path/p' || CAST(doc_id % 7 AS VARCHAR) ||
           |    (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
           |    '?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR) || '&a=1' ||
           |    (CASE WHEN doc_id % 4 = 0 THEN '&gclid=xyz' ELSE '' END) ||
           |    '#frag' AS url
           |  FROM documents WHERE doc_id < 120),
           |p1 AS (SELECT doc_id, url,
           |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^#]*)', 1) AS rest
           |  FROM u),
           |p2 AS (SELECT *, lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
           |    regexp_replace(regexp_extract(rest, '^[^/?]*([^?]*)', 1), '/+$', '') AS path0,
           |    regexp_extract(rest, '\?(.*)$', 1) AS query
           |  FROM p1),
           |p3 AS (SELECT doc_id, url, scheme,
           |    (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
           |          WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
           |          ELSE hostport END) ||
           |    (CASE WHEN path0 = '' THEN '/' ELSE path0 END) AS hostpath,
           |    list_sort(list_filter(string_split(query, '&'),
           |      q -> q != '' AND NOT regexp_matches(q,
           |        '^(utm_[^=]*|gclid|fbclid|msclkid|ref)='))) AS params
           |  FROM p2),
           |c AS (SELECT doc_id, url,
           |    CASE WHEN scheme = '' THEN url
           |         ELSE scheme || '://' || hostpath ||
           |           (CASE WHEN len(params) > 0
           |                 THEN '?' || array_to_string(params, '&') ELSE '' END)
           |    END AS canon
           |  FROM p3)
           |SELECT doc_id, url, canon,
           |  CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
           |       THEN 1 ELSE 0 END AS INT) AS kept
           |FROM c ORDER BY doc_id""".stripMargin))

  /** Text normalization + fuzzy-exact dedup (ops.Cleaning.normalizeText /
    * dedupKey, ops.Dedup.normalizedDedup): documents are wrapped in
    * planted mess (leading/trailing runs, a tab, accented words, an
    * ellipsis, an apostrophe, a newline), and each id<15 doc gets an
    * UPPERCASED "!!"-suffixed clone at id+1000 whose dedup KEY is equal by
    * construction — normalizedDedup must drop every clone while byte-exact
    * dedup would keep all of them. Output = survivors with md5 of both
    * canonical forms; the oracle replays the lower/translate/regex chain
    * character-for-character (the accent map is shared verbatim). */
  private val qTextNormalize = QueryDef(
    "q_text_normalize",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 40).select($"doc_id", $"text")
      val messy = base.select($"doc_id",
        concat(lit("  "), upper(substring($"text", 1, 40)), lit("\t"),
          lit("Élan ÇAFÉ… it's   OK "), lit("\n")).as("text"))
      val clones = messy.where($"doc_id" < 15)
        .select(($"doc_id" + 1000).as("doc_id"),
          concat(upper($"text"), lit(" !!")).as("text"))
      val corpus = messy.union(clones)
      ops.Dedup.normalizedDedup(corpus, "doc_id", "text")
        .select($"doc_id",
          md5(ops.Cleaning.normalizeText($"text")).as("nnorm"),
          md5(ops.Cleaning.dedupKey($"text")).as("nkey"))
        .orderBy($"doc_id")
    },
    Some {
      val from = ops.Cleaning.AccentFrom
      val to = ops.Cleaning.AccentTo
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
         |m AS (SELECT doc_id,
         |    '  ' || upper(substr(text, 1, 40)) || chr(9) ||
         |    'Élan ÇAFÉ… it''s   OK ' || chr(10) AS text
         |  FROM base),
         |corpus AS (SELECT doc_id, text FROM m
         |  UNION ALL SELECT doc_id + 1000, upper(text) || ' !!' FROM m WHERE doc_id < 15),
         |norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
         |    translate(lower(text), '$from', '$to'),
         |    '[\\x00-\\x1f\\x7f]', ' ', 'g'), '  +', ' ', 'g')) AS n
         |  FROM corpus),
         |keyed AS (SELECT doc_id, n, trim(regexp_replace(regexp_replace(
         |    n, '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS k
         |  FROM norm),
         |keep AS (SELECT min(doc_id) AS doc_id FROM keyed GROUP BY md5(k))
         |SELECT keyed.doc_id, md5(n) AS nnorm, md5(k) AS nkey
         |FROM keyed JOIN keep USING (doc_id) ORDER BY keyed.doc_id""".stripMargin
    })

  /** Bigram-LM training counts (ops.Lm.bigramCounts — the oracle-exact
    * integer half of the CCNet-style quality gate): word bigrams of a
    * reference slice with per-prev totals, document starts contributing a
    * ('^', first-word) row. */
  private val qLmTrain = QueryDef(
    "q_lm_train",
    (s, dir) => {
      import s.implicits._
      ops.Lm.bigramCounts(
          t(s, dir, "documents").where($"doc_id" < 200).select($"text"), "text")
        .orderBy($"prev", $"word")
    },
    Some("""WITH ref AS (SELECT text FROM documents WHERE doc_id < 200),
           |w AS (SELECT string_split(text, ' ') AS w FROM ref),
           |pairs AS (SELECT CASE WHEN i = 0 THEN '^' ELSE w[i] END AS prev,
           |    w[i+1] AS word
           |  FROM (SELECT w, unnest(range(len(w))) AS i FROM w)),
           |cnts AS (SELECT prev, word, CAST(count(*) AS BIGINT) AS cnt
           |  FROM pairs GROUP BY 1, 2),
           |tots AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS tot
           |  FROM cnts GROUP BY 1)
           |SELECT c.prev, c.word, c.cnt, t.tot
           |FROM cnts c JOIN tots t USING (prev)
           |ORDER BY prev, word""".stripMargin))

  /** CCNet-style LM quality scoring (ops.Lm.lmScore under a model trained
    * by ops.Lm.trainBigramLm): per-doc bigram log-prob sum and average in
    * integer micro-nats. The ln quantization runs exactly once at train
    * time; the model is staged to parquet and the oracle replays the
    * SCORING relational algebra (two left joins + fallback coalesce +
    * per-doc sum) over the identical staged integers — so scoring is
    * bit-exact across engines by construction. */
  private val qLmScore = QueryDef(
    "q_lm_score", {
      val modelPath = s"$corpusDir/lm_model"
      (s, dir) => {
        import s.implicits._
        Queries.synchronized {
          ops.Lm.trainBigramLm(
              t(s, dir, "documents").where($"doc_id" < 200).select($"text"), "text")
            .coalesce(1).write.mode("overwrite").parquet(modelPath)
        }
        ops.Lm.lmScore(
            t(s, dir, "documents").where($"doc_id" >= 200 && $"doc_id" < 400)
              .select($"doc_id", $"text"),
            "doc_id", "text", s.read.parquet(modelPath))
          .orderBy($"doc_id")
      }
    },
    Some(s"""WITH model AS (SELECT prev, word, logp_q
           |    FROM '$corpusDir/lm_model/*.parquet'),
           |seen AS (SELECT prev, word, logp_q FROM model WHERE word IS NOT NULL),
           |unseenw AS (SELECT prev, logp_q AS ulq FROM model
           |  WHERE word IS NULL AND prev IS NOT NULL),
           |fb AS (SELECT logp_q AS flq FROM model WHERE prev IS NULL),
           |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |  WHERE doc_id >= 200 AND doc_id < 400),
           |grams AS (SELECT doc_id, CASE WHEN i = 0 THEN '^' ELSE w[i] END AS prev,
           |    w[i+1] AS word
           |  FROM (SELECT doc_id, w, unnest(range(len(w))) AS i FROM docs)),
           |scored AS (SELECT doc_id,
           |    coalesce(s.logp_q, u.ulq, (SELECT flq FROM fb)) AS lq
           |  FROM grams g LEFT JOIN seen s ON g.prev = s.prev AND g.word = s.word
           |  LEFT JOIN unseenw u ON g.prev = u.prev)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           |  CAST(sum(lq) AS BIGINT) AS logp_sum_q,
           |  CAST(floor(CAST(sum(lq) AS DOUBLE) / count(*)) AS BIGINT) AS score_q
           |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** Stupid Backoff trigram scoring (ops.Lm.stupidBackoffScore under a
    * model trained by ops.Lm.trainStupidBackoff — Brants et al. 2007):
    * per-doc token log-score sum and average in integer micro-nats. Same
    * staging contract as q_lm_score: the ln quantization runs once at
    * train time, the model parquet is staged, and the oracle replays the
    * three-order backoff cascade (three left joins + penalty-shifted
    * coalesce + per-doc sum) over the identical staged integers. The
    * ×0.4 backoff multiplier is the PINNED literal −916291 micro-nats on
    * both sides — scoring never evaluates a log. */
  private val qLmBackoff = QueryDef(
    "q_lm_backoff", {
      val modelPath = s"$corpusDir/lm_backoff_model"
      (s, dir) => {
        import s.implicits._
        Queries.synchronized {
          ops.Lm.trainStupidBackoff(
              t(s, dir, "documents").where($"doc_id" < 200).select($"text"),
              "text", n = 3)
            .coalesce(1).write.mode("overwrite").parquet(modelPath)
        }
        ops.Lm.stupidBackoffScore(
            t(s, dir, "documents").where($"doc_id" >= 200 && $"doc_id" < 400)
              .select($"doc_id", $"text"),
            "doc_id", "text", s.read.parquet(modelPath), n = 3)
          .orderBy($"doc_id")
      }
    },
    Some(s"""WITH model AS (SELECT ord, ctx, word, logp_q
           |    FROM '$corpusDir/lm_backoff_model/*.parquet'),
           |oov AS (SELECT logp_q AS olq FROM model WHERE ord = 0),
           |docs AS (SELECT doc_id,
           |    list_concat(['^', '^'], string_split(text, ' ')) AS pw,
           |    len(string_split(text, ' ')) AS L
           |  FROM documents WHERE doc_id >= 200 AND doc_id < 400),
           |pos AS (SELECT doc_id, pw[j+3] AS w,
           |    coalesce(array_to_string(pw[j+2:j+2], ' '), '') AS c2,
           |    coalesce(array_to_string(pw[j+1:j+2], ' '), '') AS c3
           |  FROM (SELECT doc_id, pw, unnest(range(L)) AS j FROM docs)),
           |scored AS (SELECT doc_id, coalesce(
           |    m3.logp_q,
           |    m2.logp_q + (-916291),
           |    m1.logp_q + 2 * (-916291),
           |    (SELECT olq FROM oov) + 2 * (-916291)) AS lq
           |  FROM pos p
           |  LEFT JOIN model m3 ON m3.ord = 3 AND m3.ctx = p.c3 AND m3.word = p.w
           |  LEFT JOIN model m2 ON m2.ord = 2 AND m2.ctx = p.c2 AND m2.word = p.w
           |  LEFT JOIN model m1 ON m1.ord = 1 AND m1.ctx = '' AND m1.word = p.w)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           |  CAST(sum(lq) AS BIGINT) AS logp_sum_q,
           |  CAST(floor(CAST(sum(lq) AS DOUBLE) / count(*)) AS BIGINT) AS score_q
           |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  /** CCNet head/middle/tail corpus split (Wenzek et al. 2020 §4.3) under
    * a staged bigram LM: docs ranked by score_q (higher = more
    * reference-like) and cut at ceil(n·0.3) / ceil(n·0.6) with the
    * deterministic (score DESC, doc_id ASC) tie-break — the rank-exact
    * form of ops.Lm.lmBucketsRanked, whose definition replays verbatim as
    * a SQL window. The fractions are CAST literals on both sides so the
    * double arithmetic inside ceil() is bit-identical. The map-side
    * production form (lmBucketsByThreshold) is spec-tested equivalent on
    * tie-free scores. */
  private val qLmBuckets = QueryDef(
    "q_lm_buckets", {
      val modelPath = s"$corpusDir/lm_bucket_model"
      (s, dir) => {
        import s.implicits._
        Queries.synchronized {
          ops.Lm.trainBigramLm(
              t(s, dir, "documents").where($"doc_id" < 200).select($"text"), "text")
            .coalesce(1).write.mode("overwrite").parquet(modelPath)
        }
        val scored = ops.Lm.lmScore(
          t(s, dir, "documents").where($"doc_id" >= 200 && $"doc_id" < 400)
            .select($"doc_id", $"text"),
          "doc_id", "text", s.read.parquet(modelPath))
        ops.Lm.lmBucketsRanked(scored, "doc_id",
            headFrac = 0.3, midFrac = 0.3)
          .select($"doc_id", $"score_q", $"lm_bucket")
          .orderBy($"doc_id")
      }
    },
    Some(s"""WITH model AS (SELECT prev, word, logp_q
           |    FROM '$corpusDir/lm_bucket_model/*.parquet'),
           |seen AS (SELECT prev, word, logp_q FROM model WHERE word IS NOT NULL),
           |unseenw AS (SELECT prev, logp_q AS ulq FROM model
           |  WHERE word IS NULL AND prev IS NOT NULL),
           |fb AS (SELECT logp_q AS flq FROM model WHERE prev IS NULL),
           |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |  WHERE doc_id >= 200 AND doc_id < 400),
           |grams AS (SELECT doc_id, CASE WHEN i = 0 THEN '^' ELSE w[i] END AS prev,
           |    w[i+1] AS word
           |  FROM (SELECT doc_id, w, unnest(range(len(w))) AS i FROM docs)),
           |sc AS (SELECT doc_id,
           |    coalesce(s.logp_q, u.ulq, (SELECT flq FROM fb)) AS lq
           |  FROM grams g LEFT JOIN seen s ON g.prev = s.prev AND g.word = s.word
           |  LEFT JOIN unseenw u ON g.prev = u.prev),
           |scored AS (SELECT doc_id,
           |    CAST(floor(CAST(sum(lq) AS DOUBLE) / count(*)) AS BIGINT) AS score_q
           |  FROM sc GROUP BY doc_id),
           |rk AS (SELECT doc_id, score_q,
           |    row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS rnk,
           |    count(*) OVER () AS n
           |  FROM scored)
           |SELECT doc_id, score_q,
           |  CASE WHEN rnk <= ceil(n * CAST(0.3 AS DOUBLE)) THEN 'head'
           |       WHEN rnk <= ceil(n * CAST(0.6 AS DOUBLE)) THEN 'middle'
           |       ELSE 'tail' END AS lm_bucket
           |FROM rk ORDER BY doc_id""".stripMargin))

  /** Naive Bayes training counts (ops.NaiveBayes.nbCounts — the integer
    * half of the classifier): per-(label, word) counts with per-label
    * totals over the documents table's lang labels. */
  private val qNbTrain = QueryDef(
    "q_nb_train",
    (s, dir) => {
      import s.implicits._
      ops.NaiveBayes.nbCounts(
          t(s, dir, "documents").where($"doc_id" < 200)
            .select($"lang", $"text"), "text", "lang")
        .orderBy($"label", $"word")
    },
    Some("""WITH ref AS (SELECT lang AS label, text FROM documents WHERE doc_id < 200),
           |words AS (SELECT label, unnest(string_split(text, ' ')) AS word FROM ref),
           |cnts AS (SELECT label, word, CAST(count(*) AS BIGINT) AS cnt
           |  FROM words GROUP BY 1, 2),
           |tots AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS tot
           |  FROM cnts GROUP BY 1)
           |SELECT c.label, c.word, c.cnt, t.tot
           |FROM cnts c JOIN tots t USING (label)
           |ORDER BY label, word""".stripMargin))

  /** Multinomial Naive Bayes classification (ops.NaiveBayes.nbClassify
    * under a model trained by trainNb — the from-scratch fastText-analog
    * quality/domain classifier): argmax label per held-out doc with the
    * deterministic (max score, label ASC) tie-break. Same staging contract
    * as q_lm_score: the ln quantization runs once at train time, the model
    * parquet is staged, and the oracle replays the scoring decomposition
    * (prior + n_words·unseen + Σ seen deltas via one join) and the argmax
    * window over the identical staged integers. */
  private val qNbClassify = QueryDef(
    "q_nb_classify", {
      val modelPath = s"$corpusDir/nb_model"
      (s, dir) => {
        import s.implicits._
        Queries.synchronized {
          ops.NaiveBayes.trainNb(
              t(s, dir, "documents").where($"doc_id" < 200)
                .select($"lang", $"text"), "text", "lang")
            .coalesce(1).write.mode("overwrite").parquet(modelPath)
        }
        ops.NaiveBayes.nbClassify(
            t(s, dir, "documents").where($"doc_id" >= 200 && $"doc_id" < 400)
              .select($"doc_id", $"text"),
            "doc_id", "text", s.read.parquet(modelPath))
          .orderBy($"doc_id")
      }
    },
    Some(s"""WITH model AS (SELECT label, word, kind, logp_q
           |    FROM '$corpusDir/nb_model/*.parquet'),
           |pri AS (SELECT label, logp_q AS prior_q FROM model WHERE kind = 'prior'),
           |uns AS (SELECT label, logp_q AS unseen_q FROM model WHERE kind = 'unseen'),
           |lbl AS (SELECT p.label, p.prior_q, u.unseen_q
           |  FROM pri p JOIN uns u ON p.label = u.label),
           |feat AS (SELECT m.label, m.word, m.logp_q - u.unseen_q AS d
           |  FROM model m JOIN uns u ON m.label = u.label WHERE m.kind = 'feat'),
           |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |  WHERE doc_id >= 200 AND doc_id < 400 AND text IS NOT NULL),
           |grams AS (SELECT doc_id, unnest(w) AS word FROM docs),
           |hits AS (SELECT g.doc_id, f.label, CAST(sum(f.d) AS BIGINT) AS dsum
           |  FROM grams g JOIN feat f ON g.word = f.word GROUP BY 1, 2),
           |scored AS (SELECT d.doc_id, l.label,
           |    CAST(l.prior_q + len(d.w) * l.unseen_q + coalesce(h.dsum, 0)
           |      AS BIGINT) AS s
           |  FROM docs d CROSS JOIN lbl l
           |  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.label = l.label),
           |rk AS (SELECT doc_id, label, s,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, label ASC) AS r
           |  FROM scored)
           |SELECT doc_id, label AS pred, s AS score_q
           |FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin))

  /** DSIR importance resampling (Xie et al. 2023; ops.Sampling
    * importanceWeights + dsirSample): select the k held-out docs whose
    * Gumbel-perturbed log importance ratio log p_target − log p_raw is
    * largest, under a target LM trained on natural reference text and a
    * raw LM trained on the same text with word order REVERSED (so the
    * ratio genuinely separates reference-like docs from noise). Both
    * models AND the pinned Gumbel noise relation are staged to parquet;
    * the oracle replays the two integer scoring chains, the weight
    * difference, and the top-k selection window over identical integers —
    * the noise itself is a pinned deterministic draw (md5-derived), so
    * staging it is staging data, not hiding computation. */
  private val qDsir = QueryDef(
    "q_dsir", {
      val tPath = s"$corpusDir/dsir_t_model"
      val rPath = s"$corpusDir/dsir_r_model"
      val nPath = s"$corpusDir/dsir_noise"
      (s, dir) => {
        import s.implicits._
        val ref = t(s, dir, "documents").where($"doc_id" < 100)
        val held = t(s, dir, "documents")
          .where($"doc_id" >= 200 && $"doc_id" < 400)
          .select($"doc_id", $"text")
        // the three staged models are independent — write them
        // concurrently (guide §2.6; disjoint directories)
        Queries.synchronized {
          Par.par(Seq(
            () => ops.Lm.trainBigramLm(ref.select($"text"), "text")
              .coalesce(1).write.mode("overwrite").parquet(tPath),
            () => ops.Lm.trainBigramLm(
                ref.select(array_join(reverse(split($"text", " ")), " ").as("text")),
                "text")
              .coalesce(1).write.mode("overwrite").parquet(rPath),
            () => held.select($"doc_id", ops.Sampling.gumbelQ($"doc_id").as("gumbel_q"))
              .coalesce(1).write.mode("overwrite").parquet(nPath)))
        }
        val weighted = ops.Sampling.importanceWeights(held, "doc_id", "text",
          s.read.parquet(tPath), s.read.parquet(rPath))
        ops.Sampling.dsirSample(weighted, "doc_id", k = 25)
          .orderBy($"doc_id")
      }
    },
    Some(s"""WITH mt AS (SELECT prev, word, logp_q
           |    FROM '$corpusDir/dsir_t_model/*.parquet'),
           |mr AS (SELECT prev, word, logp_q
           |    FROM '$corpusDir/dsir_r_model/*.parquet'),
           |noise AS (SELECT doc_id, gumbel_q
           |    FROM '$corpusDir/dsir_noise/*.parquet'),
           |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |  WHERE doc_id >= 200 AND doc_id < 400 AND text IS NOT NULL),
           |grams AS (SELECT doc_id, CASE WHEN i = 0 THEN '^' ELSE w[i] END AS prev,
           |    w[i+1] AS word
           |  FROM (SELECT doc_id, w, unnest(range(len(w))) AS i FROM docs)),
           |st AS (SELECT doc_id, CAST(sum(coalesce(ts.logp_q, tu.ulq,
           |      (SELECT logp_q FROM mt WHERE prev IS NULL))) AS BIGINT) AS tsum
           |  FROM grams g
           |  LEFT JOIN (SELECT prev, word, logp_q FROM mt WHERE word IS NOT NULL) ts
           |    ON g.prev = ts.prev AND g.word = ts.word
           |  LEFT JOIN (SELECT prev, logp_q AS ulq FROM mt
           |    WHERE word IS NULL AND prev IS NOT NULL) tu ON g.prev = tu.prev
           |  GROUP BY doc_id),
           |sr AS (SELECT doc_id, CAST(sum(coalesce(rs.logp_q, ru.ulq,
           |      (SELECT logp_q FROM mr WHERE prev IS NULL))) AS BIGINT) AS rsum
           |  FROM grams g
           |  LEFT JOIN (SELECT prev, word, logp_q FROM mr WHERE word IS NOT NULL) rs
           |    ON g.prev = rs.prev AND g.word = rs.word
           |  LEFT JOIN (SELECT prev, logp_q AS ulq FROM mr
           |    WHERE word IS NULL AND prev IS NOT NULL) ru ON g.prev = ru.prev
           |  GROUP BY doc_id),
           |keyed AS (SELECT t.doc_id, t.tsum - r.rsum AS weight_q, n.gumbel_q,
           |    t.tsum - r.rsum + n.gumbel_q AS key_q
           |  FROM st t JOIN sr r USING (doc_id) JOIN noise n USING (doc_id)),
           |rk AS (SELECT doc_id, weight_q, gumbel_q, key_q,
           |    row_number() OVER (ORDER BY key_q DESC, doc_id ASC) AS r
           |  FROM keyed)
           |SELECT doc_id, CAST(weight_q AS BIGINT) AS weight_q,
           |  CAST(gumbel_q AS BIGINT) AS gumbel_q, CAST(key_q AS BIGINT) AS key_q
           |FROM rk WHERE r <= 25 ORDER BY doc_id""".stripMargin))

  /** BM25 lexical top-k retrieval (ops.Bm25 — Robertson & Zaragoza 2009):
    * postings + dictionary built from the corpus, query slice broadcast,
    * per-term scores floor-quantized from one IEEE-exact double
    * expression over integer (tf, dl, idf_q) inputs. The dictionary
    * (with its ln-derived idf_q) is staged to parquet like the LM models;
    * the oracle independently recomputes postings, df, and doc stats from
    * the corpus, CHECKS df against the staged rows via the join, and
    * replays the scoring arithmetic with the same literal expressions
    * ((1.2 + 1.0), (1.0 - 0.75)) so every double op is bit-identical. */
  private val qRrfFuse = QueryDef(
    "q_rrf_fuse",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // two deterministic per-source rankings standing in for retriever
      // output (Bm25.rrfFuse never looks at how a list was ranked — only
      // ranks cross the fusion boundary; the real BM25+ANN composition is
      // exercised in OpsSpec): longest-docs and md5-shuffled top-10s
      val docs = t(s, dir, "documents").where($"doc_id" < 400)
        .select($"source", $"doc_id", $"text")
      val wA = Window.partitionBy($"source")
        .orderBy(length($"text").desc, $"doc_id".asc)
      val wB = Window.partitionBy($"source")
        .orderBy(md5($"text").asc, $"doc_id".asc)
      val listA = docs.select($"source", $"doc_id",
        row_number().over(wA).as("rn")).where($"rn" <= 10)
      val listB = docs.select($"source", $"doc_id",
        row_number().over(wB).as("rn")).where($"rn" <= 10)
      ops.Bm25.rrfFuse(Seq(listA, listB), "source", "doc_id", "rn", k = 5)
        .orderBy($"source", $"rn")
    },
    Some("""WITH docs AS (SELECT source, doc_id, text FROM documents
           |    WHERE doc_id < 400),
           |la AS (SELECT source, doc_id, row_number() OVER (
           |    PARTITION BY source ORDER BY length(text) DESC, doc_id) AS rn
           |  FROM docs),
           |lb AS (SELECT source, doc_id, row_number() OVER (
           |    PARTITION BY source ORDER BY md5(text), doc_id) AS rn
           |  FROM docs),
           |u AS (SELECT source, doc_id, 1000000000 // (60 + rn) AS c
           |    FROM la WHERE rn <= 10
           |  UNION ALL
           |  SELECT source, doc_id, 1000000000 // (60 + rn) AS c
           |    FROM lb WHERE rn <= 10),
           |f AS (SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS rrf_q,
           |    CAST(count(*) AS BIGINT) AS lists_hit
           |  FROM u GROUP BY source, doc_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |    ORDER BY rrf_q DESC, doc_id) AS rn FROM f)
           |SELECT source, doc_id, rrf_q, lists_hit, rn FROM r
           |WHERE rn <= 5 ORDER BY source, rn""".stripMargin))

  private val qBm25 = QueryDef(
    "q_bm25", {
      val dictPath = s"$corpusDir/bm25_dict"
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").where($"doc_id" < 400)
          .select($"doc_id", $"text")
        // postings feed the dictionary build AND the scoring join — one
        // lazy checkpoint computes the explode+agg once
        val post = ops.Bm25.postings(docs, "doc_id", "text")
          .localCheckpoint(eager = false)
        Queries.synchronized {
          ops.Bm25.dictionary(post, "doc_id")
            .coalesce(1).write.mode("overwrite").parquet(dictPath)
        }
        ops.Bm25.bm25TopK(post, s.read.parquet(dictPath), "doc_id",
          Seq("hash", "join", "vector"), k = 20)
      }
    },
    Some(s"""WITH dict AS (SELECT word, df, idf_q
           |    FROM '$corpusDir/bm25_dict/*.parquet'),
           |stats AS (SELECT CAST(df AS DOUBLE) AS n, CAST(idf_q AS DOUBLE) AS sumdl
           |  FROM dict WHERE word IS NULL),
           |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           |  WHERE doc_id < 400 AND text IS NOT NULL),
           |post AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf, dl
           |  FROM (SELECT doc_id, unnest(w) AS word, CAST(len(w) AS BIGINT) AS dl
           |        FROM docs)
           |  GROUP BY doc_id, word, dl),
           |qd AS (SELECT word, idf_q FROM dict
           |  WHERE word IN ('hash', 'join', 'vector')),
           |sc AS (SELECT p.doc_id,
           |    CAST(floor(CAST(q.idf_q AS DOUBLE) *
           |      (CAST(p.tf AS DOUBLE) * (1.2 + 1.0)) /
           |      (CAST(p.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
           |        0.75 * CAST(p.dl AS DOUBLE) /
           |        ((SELECT sumdl FROM stats) / (SELECT n FROM stats)))))
           |      AS BIGINT) AS s
           |  FROM post p JOIN qd q USING (word)),
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS matched,
           |    CAST(sum(s) AS BIGINT) AS score_q
           |  FROM sc GROUP BY doc_id),
           |rk AS (SELECT doc_id, matched, score_q,
           |    row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS r
           |  FROM agg)
           |SELECT doc_id, matched, score_q FROM rk WHERE r <= 20
           |ORDER BY doc_id""".stripMargin))

  /** The training-data CLEANING PIPELINE composed end-to-end from the
    * operator suite — what a user actually runs: PII redaction → language
    * filter → quality filter (stopword/word formula) → repetition filter
    * (Gopher top-word rule) → exact dedup (keep-first) → near-dup dedup
    * (MinHash-LSH candidates → Jaccard verify → cluster resolution →
    * anti-join) → benchmark decontamination → mixture sampling → token
    * stats + shard packing. Near-dup copies, per-doc PII, and benchmark
    * probes are planted so every stage does real work (redaction maps each
    * doc's distinct email to the same token, so planted dup pairs survive
    * it); the oracle replays the whole chain (regex scrub, shingles,
    * 8-hash signatures, 4-band bucketing, recursive components, portable
    * hash mixing, window packing) in SQL. */
  private val qCorpusPipeline = QueryDef(
    "q_corpus_pipeline",
    (s, dir) => {
      import s.implicits._
      val stops = Classify.Stopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
      val base = t(s, dir, "documents").select($"doc_id", $"text", $"lang", $"source")
      val corpus = base.union(base.where($"doc_id" < 25)
        .select(($"doc_id" + 5000).as("doc_id"),
          concat($"text", lit(" extra")).as("text"), $"lang", $"source"))
      // plant: benchmark probe into docs ≡9 (mod 40); per-doc PII on all
      val planted = corpus
        .withColumn("text", when($"doc_id" % 40 === 9,
          concat($"text", lit(s" ${ops.Cleaning.BenchProbe}"))).otherwise($"text"))
        .withColumn("text", concat($"text",
          lit(" contact user"), $"doc_id".cast("string"), lit("@ex.org")))
      val red = planted.withColumn("text", ops.Cleaning.redactPii($"text"))
      val kept = red.where($"lang" === "en")
        .withColumn("score",
          (lit(4) * size(split($"text", " ")) +
            lit(3) * expr(s"size(filter(split(text, ' '), w -> w in ($stops)))"))
            .cast("int"))
        .where($"score" >= 150)
        .withColumn("w", ops.Cleaning.wordsOf($"text"))
        .where(ops.Cleaning.topWordFracQ4($"w") <= 1500)
        .drop("w")
      // explicit materialization at every stage boundary — the production
      // shape for a multi-stage pipeline: each stage's output feeds 2+
      // consumers (signatures → guard count AND self-join sides; pairs →
      // resolution AND verify), and without a checkpoint Spark re-derives
      // the whole upstream DAG per consumer branch
      // LAZY checkpoints: same stage-boundary materialization points and
      // the same compute-once caching (each stage feeds 2+ consumers), but
      // the first consuming job materializes each — no eager job per stage
      val exact = ops.Dedup.exactDedup(kept, "doc_id", "text")
        .localCheckpoint(eager = false)
      // signatures are materialized INSIDE lshCandidatePairs (compute-once
      // for the guard + both self-join sides) — no second checkpoint here
      val sigs = ops.Dedup.minhashSignatures(exact, "text", 8)
        .select($"doc_id", $"sig")
      // the verify consumes cands three times (pair join + two semi
      // pre-filters) — materialize once, lazily
      val cands = ops.Dedup.lshCandidatePairs(sigs, "doc_id", bands = 4)
        .localCheckpoint(eager = false)
      val pairs = ops.Dedup.jaccardVerify(exact, "doc_id", "text", cands, 0.5)
        .select($"id_a", $"id_b").localCheckpoint(eager = false)
      val resolved = ops.Dedup.dedupCorpus(exact, "doc_id", pairs)
        .localCheckpoint(eager = false)
      val bench = Seq(ops.Cleaning.BenchProbe).toDF("text")
      val cleanIds = ops.Cleaning.decontaminate(resolved, bench, "doc_id", "text", 5)
        .where($"keep" === 1).select("doc_id")
      val decon = resolved.join(cleanIds, "doc_id")
      val mixed = ops.Sampling.mixtureSample(decon, "doc_id", "source",
        Map("src0" -> 3000, "src1" -> 6000), defaultBp = 10000)
      ops.Sampling.packShards(mixed, "doc_id", "source",
          ops.TextStats.tokenCount($"text").cast("bigint"), budget = 500)
        .select($"doc_id", $"source", md5($"text").as("h"),
          $"tokens".cast("int").as("n_tok"), $"score", $"shard")
        .orderBy($"doc_id")
    },
    Some {
      val stops = Classify.Stopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
      val (rE, rI, rN) = (ops.Cleaning.EmailRe, ops.Cleaning.Ipv4Re, ops.Cleaning.LongNumRe)
      val probe = ops.Cleaning.BenchProbe
      val hb = ops.Sampling.hashBpSql("doc_id")
      s"""WITH RECURSIVE base AS (SELECT doc_id, text, lang, source FROM documents),
         |corpus AS (SELECT doc_id, text, lang, source FROM base
         |  UNION ALL SELECT doc_id + 5000, text || ' extra', lang, source FROM base WHERE doc_id < 25),
         |planted AS (SELECT doc_id,
         |    (CASE WHEN doc_id % 40 = 9 THEN text || ' $probe' ELSE text END)
         |      || ' contact user' || CAST(doc_id AS VARCHAR) || '@ex.org' AS text,
         |    lang, source FROM corpus),
         |red AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
         |    '$rE', '<EMAIL>', 'g'), '$rI', '<IP>', 'g'), '$rN', '<NUM>', 'g') AS text,
         |    lang, source FROM planted),
         |scored AS (SELECT doc_id, text, source,
         |    CAST(4*len(string_split(text, ' '))
         |       + 3*len(list_filter(string_split(text, ' '),
         |           w -> list_contains([$stops], w))) AS INT) AS score
         |  FROM red WHERE lang = 'en'),
         |kept0 AS (SELECT doc_id, text, source, score, string_split(text, ' ') AS kw
         |  FROM scored WHERE score >= 150),
         |kept AS (SELECT doc_id, text, source, score FROM kept0
         |  WHERE CAST(floor(CAST(list_max(list_transform(list_distinct(kw),
         |      x -> len(list_filter(kw, y -> y = x)))) AS DOUBLE)
         |    / CAST(len(kw) AS DOUBLE) * 10000) AS INT) <= 1500),
         |ex AS (SELECT doc_id, text, source, score FROM kept
         |       WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY md5(text))),
         |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM ex),
         |sh AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
         |       FROM (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
         |             FROM w WHERE len(ws) >= 3)),
         |sig AS (SELECT doc_id,
         |  min(md5('0:' || shingle)) AS s0, min(md5('1:' || shingle)) AS s1,
         |  min(md5('2:' || shingle)) AS s2, min(md5('3:' || shingle)) AS s3,
         |  min(md5('4:' || shingle)) AS s4, min(md5('5:' || shingle)) AS s5,
         |  min(md5('6:' || shingle)) AS s6, min(md5('7:' || shingle)) AS s7
         |  FROM sh GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, 0 AS band, md5(s0 || '|' || s1) AS bandhash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(s2 || '|' || s3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(s4 || '|' || s5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(s6 || '|' || s7) FROM sig),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM banded x JOIN banded y
         |    ON x.band = y.band AND x.bandhash = y.bandhash AND x.doc_id < y.doc_id),
         |words AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset FROM ex),
         |pairs AS (SELECT id_a, id_b
         |  FROM (SELECT id_a, id_b,
         |      len(list_intersect(wa.wset, wb.wset)) AS inter,
         |      len(list_distinct(list_concat(wa.wset, wb.wset))) AS uni
         |    FROM cand JOIN words wa ON wa.doc_id = id_a
         |              JOIN words wb ON wb.doc_id = id_b)
         |  WHERE CAST(inter AS DOUBLE) / uni >= 0.5),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
         |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r)),
         |resolved AS (SELECT doc_id, text, source, score FROM ex
         |  WHERE doc_id NOT IN (SELECT id FROM losers)),
         |rw AS (SELECT doc_id, string_split(text, ' ') AS vw FROM resolved),
         |rsh AS (SELECT doc_id, md5(array_to_string(vw[i : i+4], ' ')) AS sh
         |  FROM (SELECT doc_id, vw, unnest(range(1, len(vw) - 3)) AS i
         |        FROM rw WHERE len(vw) >= 5)),
         |bsh AS (SELECT DISTINCT md5(array_to_string(bw[i : i+4], ' ')) AS sh
         |  FROM (SELECT bw, unnest(range(1, len(bw) - 3)) AS i
         |        FROM (SELECT string_split('$probe', ' ') AS bw))),
         |contam AS (SELECT DISTINCT doc_id FROM rsh JOIN bsh USING (sh)),
         |decon AS (SELECT * FROM resolved WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |mixed AS (SELECT * FROM decon WHERE $hb < CASE source
         |    WHEN 'src0' THEN 3000 WHEN 'src1' THEN 6000 ELSE 10000 END),
         |packed AS (SELECT doc_id, source, text, score,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         |    CAST(coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
         |      OVER (PARTITION BY source ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
         |  FROM mixed)
         |SELECT doc_id, source, md5(text) AS h, CAST(tokens AS INT) AS n_tok,
         |  score, CAST(cum0 // 500 AS INT) AS shard
         |FROM packed ORDER BY doc_id""".stripMargin
    })

  /** Document fingerprint: order-insensitive bag-of-words hash. */
  private val qFingerprint = QueryDef(
    "q_fingerprint",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 200)
        .select($"doc_id", md5(array_join(array_sort(split($"text", " ")), " ")).as("fp"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp
           |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin))

  /** MinHash-LSH banding end-to-end (ops.Dedup): exact-dup corpus planted
    * by unioning a shifted copy; banded candidate pairs must surface every
    * planted pair. The oracle replays signature + banding in SQL. */
  private val qLshPairs = QueryDef(
    "q_dedup_lsh_pairs",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 50).select($"doc_id", $"text")
      val corpus = base.union(base.select(($"doc_id" + 1000).as("doc_id"), $"text"))
      val sigs = ops.Dedup.minhashSignatures(corpus, "text", 8).select($"doc_id", $"sig")
      ops.Dedup.lshCandidatePairs(sigs, "doc_id", 4)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH corpus AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id < 50
           |  UNION ALL
           |  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 50),
           |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
           |sh AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS shingle
           |       FROM (SELECT doc_id, ws, unnest(range(len(ws)-2)) AS i
           |             FROM w WHERE len(ws) >= 3)),
           |sig AS (SELECT doc_id,
           |  min(md5('0:' || shingle)) AS s0, min(md5('1:' || shingle)) AS s1,
           |  min(md5('2:' || shingle)) AS s2, min(md5('3:' || shingle)) AS s3,
           |  min(md5('4:' || shingle)) AS s4, min(md5('5:' || shingle)) AS s5,
           |  min(md5('6:' || shingle)) AS s6, min(md5('7:' || shingle)) AS s7
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  SELECT doc_id, 0 AS band, md5(s0 || '|' || s1) AS bandhash FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(s2 || '|' || s3) FROM sig
           |  UNION ALL SELECT doc_id, 2, md5(s4 || '|' || s5) FROM sig
           |  UNION ALL SELECT doc_id, 3, md5(s6 || '|' || s7) FROM sig)
           |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |FROM banded x JOIN banded y
           |  ON x.band = y.band AND x.bandhash = y.bandhash AND x.doc_id < y.doc_id
           |ORDER BY id_a, id_b""".stripMargin))

  /** SimHash hamming-distance pairs through the SCALE path
    * (ops.Dedup.simhashPairs): pigeonhole bit-band EQUI-join — hamming ≤ 4
    * guarantees at least one of 5 bit-bands matches verbatim — then exact
    * bit_count verify. Exact recall, never a cartesian product (PlanSpec
    * asserts it); the oracle replays the same banding. */
  private val qSimhashPairs = QueryDef(
    "q_simhash_pairs",
    (s, dir) => {
      import s.implicits._
      val hv = conv(substring(md5($"word"), 1, 15), 16, 10).cast("bigint")
      val bits = (0 until 16).map { i =>
        when(sum(when(shiftright(col("hv"), i).bitwiseAND(1) === 1, 1).otherwise(-1)) > 0,
          lit(1 << i)).otherwise(lit(0))
      }.reduce(_ + _)
      val sh = t(s, dir, "documents")
        .where($"doc_id" < 100)
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .withColumn("hv", hv)
        .groupBy($"doc_id")
        .agg(bits.cast("bigint").as("sh"))
      ops.Dedup.simhashPairs(sh, "doc_id", "sh", maxHamming = 4, bits = 16)
        .select($"id_a".as("ida"), $"id_b".as("idb"), $"dist".cast("int").as("dist"))
        .orderBy($"ida", $"idb")
    },
    Some {
      val bits = (0 until 16).map(i =>
        s"(CASE WHEN sum(CASE WHEN (hv >> $i) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      // same pigeonhole layout as ops.Dedup.simhashPairs(bits=16, k=4)
      val bandCase = "CASE bb " + ops.Dedup.bandLayout(16, 4)
        .map { case (b, start, w) => s"WHEN $b THEN (sh >> $start) & ${(1L << w) - 1}" }
        .mkString(" ") + " END"
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |           FROM documents WHERE doc_id < 100),
         |h AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS hv FROM t),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh FROM h GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, sh, bb, $bandCase AS bv
         |  FROM sh, (SELECT unnest(range(${ops.Dedup.bandLayout(16, 4).size})) AS bb))
         |SELECT DISTINCT x.doc_id AS ida, y.doc_id AS idb,
         |  CAST(bit_count(xor(x.sh, y.sh)) AS INT) AS dist
         |FROM banded x JOIN banded y
         |  ON x.bb = y.bb AND x.bv = y.bv AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sh, y.sh)) <= 4
         |ORDER BY ida, idb""".stripMargin
    })

  /** Integer-quantized 4-plane/64-dim SRP bucket (md5-derived integer
    * weights × floor(x*1000)) — the sign is exact in both engines. */
  private val srpQuantBucket: String =
    """concat_ws('', transform(sequence(0, 3), p ->
      |  CASE WHEN aggregate(
      |    zip_with(
      |      transform(sequence(0, 63), d ->
      |        cast(conv(substring(md5(concat('plane', p, ':', d)), 1, 6), 16, 10) as bigint) - 8388608),
      |      embedding,
      |      (w, x) -> w * cast(floor(cast(x as double) * 1000) as bigint)),
      |    0L, (acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END))""".stripMargin

  /** DuckDB replay of [[srpQuantBucket]] as CTEs ending in bk(vec_id,
    * bucket), hashing the rows of CTE `src` (vec_id, embedding). */
  private def srpOracleCtesFrom(src: String): String =
    s"""planes AS (SELECT p, d,
       |    ('0x' || substr(md5('plane' || p || ':' || d), 1, 6))::BIGINT - 8388608 AS w
       |  FROM (SELECT unnest(range(4)) AS p), (SELECT unnest(range(64)) AS d)),
       |dots AS (SELECT vec_id, p,
       |    sum(w * CAST(floor(CAST(embedding[d+1] AS DOUBLE) * 1000) AS BIGINT)) AS dp
       |  FROM $src, planes GROUP BY 1, 2),
       |bk AS (SELECT vec_id,
       |    string_agg(CASE WHEN dp >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM dots GROUP BY vec_id)""".stripMargin

  private def srpOracleCtes(maxVec: Int): String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $maxVec),
       |${srpOracleCtesFrom("v")}""".stripMargin

  /** Sign-random-projection LSH bucketing over embeddings — the ANN scale
    * path's hash stage. */
  private val qSrpBuckets = QueryDef(
    "q_embed_srp_buckets",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .where($"vec_id" < 100)
        .select($"vec_id", expr(srpQuantBucket).as("bucket"))
        .orderBy($"vec_id")
    },
    Some(s"""WITH ${srpOracleCtes(100)}
            |SELECT vec_id, bucket FROM bk ORDER BY vec_id""".stripMargin))

  /** 1-bit multiprobe ANN (ops.Similarity.lshTopK multiprobe analog on the
    * quantized surface): each probe searches its own SRP bucket plus every
    * 1-bit-flipped bucket — the corpus is hashed once, the join stays a
    * pure equi-join, and recall recovers without lowering nPlanes. Output:
    * candidate count per probe (integer — exact in both engines). */
  private val qEmbedMultiprobe = QueryDef(
    "q_embed_multiprobe",
    (s, dir) => {
      import s.implicits._
      val bk = t(s, dir, "embeddings")
        .where($"vec_id" < 300)
        .select($"vec_id", expr(srpQuantBucket).as("bucket"))
      val probes = bk.where($"vec_id" < 3)
        .select($"vec_id".as("probe"), $"bucket")
        .withColumn("pb", explode(expr(ops.Similarity.multiprobeBuckets(4))))
        .select($"probe", $"pb")
      broadcast(probes).join(bk.as("c"),
          $"pb" === col("c.bucket") && $"probe" =!= col("c.vec_id"))
        .groupBy($"probe")
        .agg(countDistinct(col("c.vec_id")).as("n_cand"))
        .orderBy($"probe")
    },
    Some(s"""WITH ${srpOracleCtes(300)},
            |probes AS (SELECT vec_id AS probe, bucket FROM bk WHERE vec_id < 3),
            |mp AS (SELECT probe,
            |    CASE WHEN i = 0 THEN bucket
            |         ELSE substr(bucket, 1, i - 1) ||
            |           (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END) ||
            |           substr(bucket, i + 1) END AS pb
            |  FROM probes, (SELECT unnest(range(5)) AS i))
            |SELECT probe, CAST(count(DISTINCT c.vec_id) AS BIGINT) AS n_cand
            |FROM mp JOIN bk c ON c.bucket = mp.pb AND c.vec_id <> mp.probe
            |GROUP BY probe ORDER BY probe""".stripMargin))

  /** Embedding-cosine near-dup pairs (ops.Similarity.cosineNearDupPairs
    * analog on the quantized surface): planted exact-dup vectors must pair
    * at cosine ≈ 1.0 through the SRP-bucket equi-join + exact cosine
    * verify — never an all-pairs comparison. */
  private val qEmbedNearDup = QueryDef(
    "q_embed_neardup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "embeddings").where($"vec_id" < 150)
        .select($"vec_id", $"embedding")
      val corpus = base.union(base.select(($"vec_id" + 1000).as("vec_id"), $"embedding"))
      val bk = corpus.select($"vec_id", expr(srpQuantBucket).as("bucket"),
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
        .withColumn("nrm", expr("aggregate(qv, 0L, (a, x) -> a + x*x)"))
        // both self-join sides — hash/quantize each vector once, not twice
        .localCheckpoint(eager = false)
      bk.as("x").join(bk.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
        .withColumn("dot",
          expr("aggregate(zip_with(x.qv, y.qv, (a, b) -> a*b), 0L, (acc, v) -> acc + v)"))
        .withColumn("cos", $"dot".cast("double") /
          sqrt(col("x.nrm").cast("double") * col("y.nrm").cast("double")))
        .where($"cos" >= 0.999)
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"),
          floor($"cos" * 1000).cast("int").as("cos_q3"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
            |corpus AS (SELECT vec_id, embedding FROM base
            |           UNION ALL SELECT vec_id + 1000, embedding FROM base),
            |${srpOracleCtesFrom("corpus")},
            |q AS (SELECT c.vec_id, bk.bucket,
            |    list_transform(c.embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
            |  FROM corpus c JOIN bk ON bk.vec_id = c.vec_id),
            |qn AS (SELECT vec_id, bucket, qv,
            |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS nrm FROM q),
            |pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
            |    CAST(list_sum(list_transform(range(len(x.qv)), j -> x.qv[j+1] * y.qv[j+1])) AS BIGINT) AS dot,
            |    x.nrm AS xn, y.nrm AS yn
            |  FROM qn x JOIN qn y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
            |SELECT id_a, id_b,
            |  CAST(floor(CAST(dot AS DOUBLE) / sqrt(CAST(xn AS DOUBLE) * CAST(yn AS DOUBLE)) * 1000) AS INT) AS cos_q3
            |FROM pairs
            |WHERE CAST(dot AS DOUBLE) / sqrt(CAST(xn AS DOUBLE) * CAST(yn AS DOUBLE)) >= 0.999
            |ORDER BY id_a, id_b""".stripMargin))

  /** IVF (inverted-file) ANN on the quantized surface: 8 deterministic
    * centroid seeds (stride-sampled corpus vectors), every vector assigned
    * to its nearest cell by exact integer squared-L2 (argmin, tie → lowest
    * centroid id), probes search their 2 nearest cells — the assignment
    * compares each vector to the tiny broadcast centroid set (the correct
    * IVF shape), the SEARCH is a pure equi-join on cell id. */
  private val qEmbedIvf = QueryDef(
    "q_embed_ivf",
    (s, dir) => {
      import s.implicits._
      val q = t(s, dir, "embeddings").where($"vec_id" < 300)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
      val cents = q.where($"vec_id" % 20 === 0 && $"vec_id" < 160)
        .select($"vec_id".as("cid"), $"qv".as("cv"))
      val sq = expr("aggregate(zip_with(cv, qv, (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)")
      val wv = Window.partitionBy($"vec_id").orderBy($"sqd".asc, $"cid".asc)
      val ranked = q.crossJoin(broadcast(cents))
        .withColumn("sqd", sq)
        .withColumn("rk", row_number().over(wv))
      val cells = ranked.where($"rk" === 1).select($"vec_id".as("cand"), $"cid".as("cell"))
      val probeCells = ranked.where($"vec_id" < 3 && $"rk" <= 2)
        .select($"vec_id".as("probe"), $"cid".as("cell"))
      probeCells.join(cells, Seq("cell"))
        .where($"probe" =!= $"cand")
        .groupBy($"probe").agg(countDistinct($"cand").as("n_cand"))
        .orderBy($"probe")
    },
    Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings WHERE vec_id < 300),
           |cents AS (SELECT vec_id AS cid, qv AS cv FROM q
           |          WHERE vec_id % 20 = 0 AND vec_id < 160),
           |d AS (SELECT q.vec_id, cents.cid,
           |    list_sum(list_transform(range(len(q.qv)),
           |      j -> (cents.cv[j+1] - q.qv[j+1]) * (cents.cv[j+1] - q.qv[j+1]))) AS sqd
           |  FROM q, cents),
           |r AS (SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk FROM d),
           |cells AS (SELECT vec_id AS cand, cid AS cell FROM r WHERE rk = 1),
           |pc AS (SELECT vec_id AS probe, cid AS cell FROM r WHERE vec_id < 3 AND rk <= 2)
           |SELECT probe, CAST(count(DISTINCT cand) AS BIGINT) AS n_cand
           |FROM pc JOIN cells USING (cell) WHERE probe <> cand
           |GROUP BY probe ORDER BY probe""".stripMargin))

  /** AT-REST IVF index (ops.Similarity.buildIvfIndex → ivfTopKIndexed):
    * the codebook and the cell-PARTITIONED corpus are written to parquet
    * INSIDE the query and probed back with a partition `IN` filter — the
    * persisted-index contract for ANN (the dedup-index analog: train and
    * assign once, every later probe batch reads only its nProbe cells'
    * bytes). Seeds are the deterministic md5-ordered sample with no Lloyd
    * refinement so the oracle can replay seeding, assignment, probe-cell
    * ranking and the within-cell exact cosine top-k from the embeddings
    * table directly — the Spark side additionally proves the round trip
    * through the partitioned at-rest layout. */
  private val qEmbedIvfIndex = QueryDef(
    "q_embed_ivf_index",
    (s, dir) => {
      import s.implicits._
      val q = t(s, dir, "embeddings").where($"vec_id" < 300)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
      val ixPath = s"$corpusDir/ivf_index_demo"
      ops.Similarity.buildIvfIndex(q, "vec_id", "qv", nCentroids = 8,
        lloydIters = 0, path = ixPath)
      val probes = q.where($"vec_id" < 3)
      ops.Similarity.ivfTopKIndexed(s, ixPath, probes, "vec_id", "qv",
          k = 5, nProbe = 2)
        .select($"probe_id", $"cand_id", $"rn")
        .orderBy($"probe_id", $"rn")
    },
    Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings WHERE vec_id < 300),
           |cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           |    qv AS cv FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
           |d AS (SELECT q.vec_id, cents.cid,
           |    list_sum(list_transform(range(len(q.qv)),
           |      j -> (cents.cv[j+1] - q.qv[j+1]) * (cents.cv[j+1] - q.qv[j+1]))) AS sqd
           |  FROM q, cents),
           |r AS (SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk FROM d),
           |qn AS (SELECT vec_id, qv,
           |    sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE)) AS nrm FROM q),
           |cells AS (SELECT vec_id AS cand_id, cid AS cell FROM r WHERE rk = 1),
           |pc AS (SELECT vec_id AS probe_id, cid AS cell FROM r
           |       WHERE vec_id < 3 AND rk <= 2),
           |pairs AS (SELECT pc.probe_id, cells.cand_id,
           |    CAST(list_sum(list_transform(range(len(p.qv)),
           |      j -> p.qv[j+1] * c.qv[j+1])) AS DOUBLE) / (p.nrm * c.nrm) AS cosine
           |  FROM pc JOIN cells USING (cell)
           |  JOIN qn p ON p.vec_id = pc.probe_id
           |  JOIN qn c ON c.vec_id = cells.cand_id
           |  WHERE pc.probe_id <> cells.cand_id)
           |SELECT probe_id, cand_id, rn FROM (
           |  SELECT probe_id, cand_id, row_number() OVER (PARTITION BY probe_id
           |    ORDER BY cosine DESC, cand_id) AS rn FROM pairs)
           |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin))

  /** STREAMING vector index (streaming.VectorIndexStream): two embedding
    * waves ingested as two manifest-committed micro-batches into a table
    * whose buckets ARE the IVF cells — the codebook is the md5-ordered
    * seed sample of the FIRST wave only (lloydIters = 0 so the oracle can
    * replay training), wave 2 is assigned against that committed codebook,
    * and the probe reads only its nProbe cells' files from the snapshot.
    * The oracle replays seeding (wave-1 ids only), assignment of ALL rows,
    * probe-cell ranking and the within-cell exact cosine top-k; the Spark
    * side additionally proves the round trip through the streaming
    * commit/probe machinery (exactly-once, snapshot-planned scan). */
  private val qEmbedIndexStream = QueryDef(
    "q_embed_index_stream",
    (s, dir) => {
      import s.implicits._
      val q = t(s, dir, "embeddings").where($"vec_id" < 300)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
      val root = s"$corpusDir/vec_index_stream"
      Queries.synchronized {
        val tbl = s"$root/t"
        if (new Manifest(tbl, s.sessionState.newHadoopConf()).head().isEmpty) {
          // two sequential stream runs = two batches: wave 1 bootstraps the
          // codebook, wave 2 must be assigned against it (never re-fit)
          q.where($"vec_id" < 150).coalesce(1).write
            .mode("append").parquet(s"$root/in")
          streaming.VectorIndexStream.runVectorIndexStream(s, s"$root/in",
            tbl, s"$root/ckpt", q, idCol = "vec_id", vecCol = "qv",
            nCells = 8, lloydIters = 0).awaitTermination()
          q.where($"vec_id" >= 150).coalesce(1).write
            .mode("append").parquet(s"$root/in")
          streaming.VectorIndexStream.runVectorIndexStream(s, s"$root/in",
            tbl, s"$root/ckpt", q, idCol = "vec_id", vecCol = "qv",
            nCells = 8, lloydIters = 0).awaitTermination()
        }
      }
      streaming.VectorIndexStream.topKSnapshot(s, s"$root/t",
          q.where($"vec_id" < 3), "vec_id", "qv", k = 5, nProbe = 2,
          nCells = 8)
        .select($"probe_id", $"cand_id", $"rn")
        .orderBy($"probe_id", $"rn")
    },
    Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings WHERE vec_id < 300),
           |cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           |    qv AS cv FROM q WHERE vec_id < 150
           |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
           |d AS (SELECT q.vec_id, cents.cid,
           |    list_sum(list_transform(range(len(q.qv)),
           |      j -> (cents.cv[j+1] - q.qv[j+1]) * (cents.cv[j+1] - q.qv[j+1]))) AS sqd
           |  FROM q, cents),
           |r AS (SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk FROM d),
           |qn AS (SELECT vec_id, qv,
           |    sqrt(CAST(list_sum(list_transform(qv, x -> x*x)) AS DOUBLE)) AS nrm FROM q),
           |cells AS (SELECT vec_id AS cand_id, cid AS cell FROM r WHERE rk = 1),
           |pc AS (SELECT vec_id AS probe_id, cid AS cell FROM r
           |       WHERE vec_id < 3 AND rk <= 2),
           |pairs AS (SELECT pc.probe_id, cells.cand_id,
           |    CAST(list_sum(list_transform(range(len(p.qv)),
           |      j -> p.qv[j+1] * c.qv[j+1])) AS DOUBLE) / (p.nrm * c.nrm) AS cosine
           |  FROM pc JOIN cells USING (cell)
           |  JOIN qn p ON p.vec_id = pc.probe_id
           |  JOIN qn c ON c.vec_id = cells.cand_id
           |  WHERE pc.probe_id <> cells.cand_id)
           |SELECT probe_id, cand_id, rn FROM (
           |  SELECT probe_id, cand_id, row_number() OVER (PARTITION BY probe_id
           |    ORDER BY cosine DESC, cand_id) AS rn FROM pairs)
           |WHERE rn <= 5 ORDER BY probe_id, rn""".stripMargin))

  /** SemDeDup at cluster granularity (ops.Dedup.semanticDedup): IVF cell
    * assignment (4 deterministic md5-ordered seed centroids, exact integer
    * squared-L2 argmin with index tie-break) → within-cell cosine pairs ≥
    * threshold (pure equi-join on the cell id) → connected components →
    * keep the minimum id per semantic cluster. Planted exact-copy and
    * perturbed-copy families make every stage decide something; the oracle
    * replays seeding, assignment, cosine and the recursive component
    * resolution over the same integer-quantized vectors. */
  private val qSemanticDedup = QueryDef(
    "q_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "embeddings").where($"vec_id" < 150)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
      val corpus = base
        .union(base.where($"vec_id" < 10).select(($"vec_id" + 1000).as("vec_id"), $"qv"))
        .union(base.where($"vec_id" < 5).select(($"vec_id" + 2000).as("vec_id"),
          expr("concat(array(qv[0] + 100L), slice(qv, 2, size(qv) - 1))").as("qv")))
      ops.Dedup.semanticDedup(corpus, "vec_id", "qv",
          threshold = 0.99, nCentroids = 4)
        .select($"vec_id").orderBy($"vec_id")
    },
    Some("""WITH RECURSIVE base AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings WHERE vec_id < 150),
           |corpus AS (
           |  SELECT vec_id, qv FROM base
           |  UNION ALL SELECT vec_id + 1000, qv FROM base WHERE vec_id < 10
           |  UNION ALL SELECT vec_id + 2000, list_concat([qv[1] + 100], qv[2:len(qv)])
           |    FROM base WHERE vec_id < 5),
           |cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           |    qv AS cv
           |  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 4),
           |d AS (SELECT corpus.vec_id, cents.cid,
           |    list_sum(list_transform(range(len(corpus.qv)),
           |      j -> (cents.cv[j+1] - corpus.qv[j+1]) * (cents.cv[j+1] - corpus.qv[j+1]))) AS sqd
           |  FROM corpus, cents),
           |asg AS (SELECT vec_id, cid AS cell FROM
           |  (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk
           |   FROM d) WHERE rk = 1),
           |qn AS (SELECT c.vec_id, a.cell, c.qv,
           |    CAST(list_sum(list_transform(c.qv, x -> x*x)) AS BIGINT) AS nrm
           |  FROM corpus c JOIN asg a ON a.vec_id = c.vec_id),
           |pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
           |  FROM qn x JOIN qn y ON x.cell = y.cell AND x.vec_id < y.vec_id
           |  WHERE CAST(list_sum(list_transform(range(len(x.qv)),
           |          j -> x.qv[j+1] * y.qv[j+1])) AS DOUBLE)
           |        / (sqrt(CAST(x.nrm AS DOUBLE)) * sqrt(CAST(y.nrm AS DOUBLE))) >= 0.99),
           |nodes AS (SELECT DISTINCT id FROM
           |  (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
           |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
           |          UNION SELECT id_b, id_a FROM pairs),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
           |losers AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
           |SELECT vec_id FROM corpus
           |WHERE vec_id NOT IN (SELECT id FROM losers)
           |ORDER BY vec_id""".stripMargin))

  /** SSL-prototype pruning (ops.Similarity.prototypePrune — the pruning
    * half of D4, complementing q_semantic_dedup's dedup half): assign each
    * quantized embedding to its nearest md5-order seed centroid, score
    * prototypicality as cosine to the OWN centroid, and drop each cell's
    * most-prototypical 25% (integer cut (n*2500) div 10000 — proportional
    * per cell). The oracle replays seeding, the (sqd, cid) argmin, the
    * fixed-fold cosine, the (proto desc, id) rank, and the integer cut;
    * proto rounded to 6 dp (the doubles are bit-identical cross-engine —
    * same fold order — so the rank cannot drift). Zero-norm vectors score
    * the −2.0 sentinel on BOTH sides (NaN would sort first in Spark and
    * differently in DuckDB — the one rank that COULD drift). */
  private val qProtoPrune = QueryDef(
    "q_proto_prune",
    (s, dir) => {
      import s.implicits._
      val corpus = t(s, dir, "embeddings").where($"vec_id" < 200)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
      ops.Similarity.prototypePrune(corpus, "vec_id", "qv",
          nCentroids = 4, dropBp = 2500)
        .select($"vec_id", $"cell", round($"proto", 6).as("proto"))
        .orderBy($"vec_id")
    },
    Some("""WITH corpus AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings WHERE vec_id < 200),
           |cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           |    qv AS cv
           |  FROM corpus ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 4),
           |d AS (SELECT corpus.vec_id, cents.cid, corpus.qv, cents.cv,
           |    list_sum(list_transform(range(len(corpus.qv)),
           |      j -> (cents.cv[j+1] - corpus.qv[j+1]) * (cents.cv[j+1] - corpus.qv[j+1]))) AS sqd
           |  FROM corpus, cents),
           |asg AS (SELECT vec_id, cid AS cell, qv, cv FROM
           |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk
           |   FROM d) WHERE rk = 1),
           |sc AS (SELECT vec_id, cell,
           |    CASE WHEN list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
           |           OR list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
           |      THEN -2.0
           |      ELSE CAST(list_sum(list_transform(range(len(qv)),
           |        j -> CAST(qv[j+1] AS DOUBLE) * CAST(cv[j+1] AS DOUBLE))) AS DOUBLE)
           |      / (sqrt(CAST(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE))
           |       * sqrt(CAST(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE)))
           |      END AS proto
           |  FROM asg),
           |rk AS (SELECT *,
           |    row_number() OVER (PARTITION BY cell ORDER BY proto DESC, vec_id) AS prk,
           |    count(*) OVER (PARTITION BY cell) AS pcnt
           |  FROM sc)
           |SELECT vec_id, CAST(cell AS INT) AS cell, round(proto, 6) AS proto
           |FROM rk WHERE prk > (pcnt * 2500) // 10000
           |ORDER BY vec_id""".stripMargin))

  /** Semantic benchmark decontamination (ops.Cleaning.semanticDecontaminate
    * / ops.Similarity.semanticCrossHits): the corpus carries planted exact
    * and first-dim-perturbed copies of benchmark embeddings; centroids are
    * seeded from the BENCH side (4 seeds, md5-id order), bench vectors
    * assign to their single nearest cell, corpus vectors probe their TWO
    * nearest, and any (corpus, bench) cosine ≥ 0.99 inside a shared cell
    * marks the corpus row contaminated. The oracle replays seeding, both
    * assignments, the cosine and the hit counts over the same
    * integer-quantized vectors. */
  private val qSemanticDecon = QueryDef(
    "q_semantic_decon",
    (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
        .select($"vec_id",
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
      val bench = e.where($"vec_id" < 8)
      val corpus = e.where($"vec_id" >= 100 && $"vec_id" < 200)
        .union(bench.where($"vec_id" < 4).select(($"vec_id" + 2000).as("vec_id"), $"qv"))
        .union(bench.where($"vec_id" < 2).select(($"vec_id" + 3000).as("vec_id"),
          expr("concat(array(qv[0] + 100L), slice(qv, 2, size(qv) - 1))").as("qv")))
      ops.Cleaning.semanticDecontaminate(corpus, bench, "vec_id", "qv",
          threshold = 0.99, nCentroids = 4, nProbe = 2)
        .select($"vec_id", $"n_hits", $"keep")
        .orderBy($"vec_id")
    },
    Some("""WITH e AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings),
           |bench AS (SELECT vec_id, qv FROM e WHERE vec_id < 8),
           |corpus AS (
           |  SELECT vec_id, qv FROM e WHERE vec_id >= 100 AND vec_id < 200
           |  UNION ALL SELECT vec_id + 2000, qv FROM bench WHERE vec_id < 4
           |  UNION ALL SELECT vec_id + 3000, list_concat([qv[1] + 100], qv[2:len(qv)])
           |    FROM bench WHERE vec_id < 2),
           |cents AS (SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
           |    qv AS cv
           |  FROM bench ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 4),
           |db AS (SELECT bench.vec_id, cents.cid,
           |    list_sum(list_transform(range(len(bench.qv)),
           |      j -> (cents.cv[j+1] - bench.qv[j+1]) * (cents.cv[j+1] - bench.qv[j+1]))) AS sqd
           |  FROM bench, cents),
           |ab AS (SELECT vec_id, cid AS cell FROM
           |  (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk
           |   FROM db) WHERE rk = 1),
           |dc AS (SELECT corpus.vec_id, cents.cid,
           |    list_sum(list_transform(range(len(corpus.qv)),
           |      j -> (cents.cv[j+1] - corpus.qv[j+1]) * (cents.cv[j+1] - corpus.qv[j+1]))) AS sqd
           |  FROM corpus, cents),
           |ac AS (SELECT vec_id, cid AS cell FROM
           |  (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY sqd, cid) AS rk
           |   FROM dc) WHERE rk <= 2),
           |bn AS (SELECT b.vec_id, a.cell, b.qv,
           |    CAST(list_sum(list_transform(b.qv, x -> x*x)) AS BIGINT) AS nrm
           |  FROM bench b JOIN ab a ON a.vec_id = b.vec_id),
           |cn AS (SELECT c.vec_id, a.cell, c.qv,
           |    CAST(list_sum(list_transform(c.qv, x -> x*x)) AS BIGINT) AS nrm
           |  FROM corpus c JOIN ac a ON a.vec_id = c.vec_id),
           |hits AS (SELECT cn.vec_id, CAST(count(*) AS INT) AS n_hits
           |  FROM cn JOIN bn ON cn.cell = bn.cell
           |  WHERE CAST(list_sum(list_transform(range(len(cn.qv)),
           |          j -> cn.qv[j+1] * bn.qv[j+1])) AS DOUBLE)
           |        / (sqrt(CAST(cn.nrm AS DOUBLE)) * sqrt(CAST(bn.nrm AS DOUBLE))) >= 0.99
           |  GROUP BY cn.vec_id)
           |SELECT c.vec_id, CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
           |  CAST(CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 0 ELSE 1 END AS INT) AS keep
           |FROM corpus c LEFT JOIN hits h USING (vec_id)
           |ORDER BY c.vec_id""".stripMargin))

  /** Product quantization ANN (ops.Pq): m=4 subspaces × k=8 codes over
    * integer-quantized embeddings; codebook = the subvectors of the eight
    * vec_id%32==0 corpus rows (code = vec_id/32 — deterministic, so the
    * oracle can rebuild it). encode → ADC top-5 per probe. All arithmetic
    * is integer-exact in both engines; the oracle replays per-subspace
    * argmin (ties to lowest code) and the ADC lookup sum in SQL. */
  private val qEmbedPq = QueryDef(
    "q_embed_pq",
    (s, dir) => {
      import s.implicits._
      val q = t(s, dir, "embeddings").where($"vec_id" < 256)
        .select($"vec_id",
          expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as double))").as("qv"))
      val cbRows = q.where($"vec_id" % 32 === 0).orderBy($"vec_id")
        .select($"qv").collect().map(_.getSeq[Double](0).toIndexedSeq)
      val cb: ops.Pq.Codebook =
        (0 until 4).map(sub => cbRows.toSeq.map(v => v.slice(sub * 16, (sub + 1) * 16).toSeq))
      val codes = ops.Pq.encode(q, "vec_id", "qv", cb)
      ops.Pq.adcTopK(codes, q.where($"vec_id" < 3), "vec_id", "qv", cb, 5)
        .select($"probe_id".as("probe"), $"cand_id".as("cand"),
          $"adc".cast("long").as("adc"), $"rn")
        .orderBy($"probe", $"rn")
    },
    Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings WHERE vec_id < 256),
           |subs AS (SELECT CAST(unnest(range(4)) AS INT) AS sub),
           |sv AS (SELECT vec_id, sub, qv[sub*16+1 : sub*16+16] AS subv FROM q, subs),
           |cbs AS (SELECT CAST(vec_id // 32 AS INT) AS code, sub,
           |    qv[sub*16+1 : sub*16+16] AS csubv
           |  FROM q, subs WHERE vec_id % 32 = 0),
           |d AS (SELECT vec_id, sv.sub, code,
           |    list_sum(list_transform(range(16),
           |      j -> (sv.subv[j+1] - cbs.csubv[j+1]) * (sv.subv[j+1] - cbs.csubv[j+1]))) AS sqd
           |  FROM sv JOIN cbs ON sv.sub = cbs.sub),
           |enc AS (SELECT vec_id, sub, code FROM
           |  (SELECT vec_id, sub, code,
           |     row_number() OVER (PARTITION BY vec_id, sub ORDER BY sqd, code) AS rk FROM d)
           |  WHERE rk = 1),
           |adc AS (SELECT pd.vec_id AS probe, e.vec_id AS cand, SUM(pd.sqd) AS adc
           |  FROM enc e JOIN d pd ON pd.sub = e.sub AND pd.code = e.code
           |  WHERE pd.vec_id < 3 AND pd.vec_id <> e.vec_id
           |  GROUP BY 1, 2)
           |SELECT probe, cand, CAST(adc AS BIGINT) AS adc, CAST(rn AS INT) AS rn FROM
           |  (SELECT probe, cand, adc,
           |     row_number() OVER (PARTITION BY probe ORDER BY adc, cand) AS rn FROM adc)
           |WHERE rn <= 5 ORDER BY probe, rn""".stripMargin))

  /** BPE-ish subword count estimate (ops.TextStats.subwordEstimate). */
  private val qSubword = QueryDef(
    "q_token_subword",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 200)
        .select($"doc_id",
          expr("aggregate(split(text, ' '), 0, (acc, w) -> acc + 1 + int(length(w) / 6))")
            .as("subwords"))
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(list_sum(list_transform(string_split(text, ' '), w -> 1 + length(w) // 6)) AS INT) AS subwords
           |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin))

  /** Multimodal frame sampling through the typed decode path (ops.Media):
    * the deterministic stub decode is replayed in SQL by the oracle. */
  private val qMediaFrames = QueryDef(
    "q_media_frames",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").where($"doc_id" < 100).select($"doc_id", $"text")
      val meta = ops.Media.decodeMeta(s, ops.Media.withPayload(docs, "text"))
      ops.Media.sampleFrames(meta.toDF(), stride = 2)
        .select($"doc_id", $"frame_idx".cast("int").as("frame_idx"), $"format")
        .orderBy($"doc_id", $"frame_idx")
    },
    Some("""WITH meta AS (
           |  SELECT doc_id,
           |    CASE ascii(substr(text, 1, 1)) % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'aud' ELSE 'vid' END AS format,
           |    CASE WHEN ascii(substr(text, 1, 1)) % 3 = 2
           |         THEN 1 + octet_length(encode(substr(text, 1, 64))) % 16 ELSE 1 END AS frames
           |  FROM documents WHERE doc_id < 100)
           |SELECT doc_id, CAST(unnest(range(0, frames, 2)) AS INT) AS frame_idx, format
           |FROM meta ORDER BY doc_id, frame_idx""".stripMargin))

  /** Layout reconstruction (ops.Layout.readingOrder — the north rule's
    * PDF/layout-parse analog): a synthetic two-column page is emitted in
    * INTERLEAVED stream order (left, right, left, right …, with vertical
    * band gaps every 5 rows); the operator must recover column-major
    * reading order and gap-separated regions. The oracle replays the same
    * integer window algebra. */
  private val qLayoutOrder = QueryDef(
    "q_layout_order",
    (s, dir) => {
      import s.implicits._
      val blocks = t(s, dir, "documents").where($"doc_id" < 30)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
        .select($"doc_id", $"word",
          (lit(50) + ($"pos" % 2) * 300).as("x"),
          (expr("pos div 2") * 20 + expr("(pos div 2) div 5") * 100).as("y"))
      ops.Layout.readingOrder(blocks, "doc_id", pageWidth = 700, gapThreshold = 50)
        .select($"doc_id", $"reading_pos", $"col_id", $"region_id", $"word")
        .orderBy($"doc_id", $"reading_pos")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           |  FROM documents WHERE doc_id < 30),
           |blk AS (SELECT doc_id, word,
           |        50 + (pos % 2) * 300 AS x,
           |        (pos // 2) * 20 + ((pos // 2) // 5) * 100 AS y FROM tok),
           |c AS (SELECT *, CASE WHEN x * 2 < 700 THEN 0 ELSE 1 END AS col_id FROM blk),
           |g AS (SELECT *, CASE WHEN lag(y) OVER w IS NULL OR y - lag(y) OVER w > 50
           |                     THEN 1 ELSE 0 END AS gap
           |      FROM c WINDOW w AS (PARTITION BY doc_id, col_id ORDER BY y, x)),
           |r AS (SELECT *, sum(gap) OVER (PARTITION BY doc_id, col_id ORDER BY y, x
           |        ROWS UNBOUNDED PRECEDING) AS ric FROM g)
           |SELECT doc_id,
           |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY col_id, y, x) - 1 AS INT) AS reading_pos,
           |  CAST(col_id AS INT) AS col_id,
           |  CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY col_id, ric) - 1 AS INT) AS region_id,
           |  word
           |FROM r ORDER BY doc_id, reading_pos""".stripMargin))

  /** k-column layout reconstruction (ops.Layout.readingOrderK): a THREE-
    * column interleaved stream; columns are detected per document by
    * largest-gap clustering of distinct x starts (k−1 largest gaps over
    * minGap become boundaries), then the same column-major order + region
    * windows. The oracle replays the gap clustering with the identical
    * window algebra. */
  private val qLayoutKcol = QueryDef(
    "q_layout_kcol",
    (s, dir) => {
      import s.implicits._
      val blocks = t(s, dir, "documents").where($"doc_id" < 30)
        .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
        .select($"doc_id", $"pos", $"word",
          (lit(50) + ($"pos" % 3) * 300).as("x"),
          (expr("pos div 3") * 20 + expr("(pos div 3) div 5") * 100).as("y"))
      ops.Layout.readingOrderK(blocks, "doc_id", k = 3, gapThreshold = 50,
          minGap = 100)
        .select($"doc_id", $"reading_pos", $"col_id", $"region_id", $"pos", $"word")
        .orderBy($"doc_id", $"reading_pos")
    },
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           |         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
           |  FROM documents WHERE doc_id < 30),
           |blk AS (SELECT doc_id, pos, word,
           |        50 + (pos % 3) * 300 AS x,
           |        (pos // 3) * 20 + ((pos // 3) // 5) * 100 AS y FROM tok),
           |dx AS (SELECT DISTINCT doc_id, x FROM blk),
           |gp AS (SELECT doc_id, x,
           |         x - lag(x) OVER (PARTITION BY doc_id ORDER BY x) AS gap FROM dx),
           |bnd AS (SELECT doc_id, x FROM (
           |    SELECT doc_id, x, row_number() OVER (
           |      PARTITION BY doc_id ORDER BY gap DESC, x) AS r
           |    FROM gp WHERE gap IS NOT NULL AND gap > 100) WHERE r <= 2),
           |c AS (SELECT blk.doc_id, blk.pos, blk.word, blk.x, blk.y,
           |    CAST(count(bnd.x) FILTER (WHERE bnd.x <= blk.x) AS INT) AS col_id
           |  FROM blk LEFT JOIN bnd ON bnd.doc_id = blk.doc_id
           |  GROUP BY blk.doc_id, blk.pos, blk.word, blk.x, blk.y),
           |g AS (SELECT *, CASE WHEN lag(y) OVER w IS NULL OR y - lag(y) OVER w > 50
           |                     THEN 1 ELSE 0 END AS gap
           |      FROM c WINDOW w AS (PARTITION BY doc_id, col_id ORDER BY y, x)),
           |r AS (SELECT *, sum(gap) OVER (PARTITION BY doc_id, col_id ORDER BY y, x
           |        ROWS UNBOUNDED PRECEDING) AS ric FROM g)
           |SELECT doc_id,
           |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY col_id, y, x) - 1 AS INT) AS reading_pos,
           |  CAST(col_id AS INT) AS col_id,
           |  CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY col_id, ric) - 1 AS INT) AS region_id,
           |  CAST(pos AS INT) AS pos, word
           |FROM r ORDER BY doc_id, reading_pos""".stripMargin))

  // ------------------------------------------------------------------
  // Training-data pipeline: similarity search
  // ------------------------------------------------------------------

  /** Brute-force cosine top-k over embeddings — integer-quantized dot
    * products (floor(x*1000)) so both engines do identical integer math;
    * only integer columns are emitted (ranks), never raw floats. */
  private val qEmbedTopK = QueryDef(
    "q_embed_topk",
    (s, dir) => {
      import s.implicits._
      val q = t(s, dir, "embeddings").select($"vec_id",
        expr("transform(embedding, x -> cast(floor(cast(x as double)*1000) as bigint))").as("qv"))
        .withColumn("nrm", expr("aggregate(qv, 0L, (a, x) -> a + x*x)"))
      val p = q.where($"vec_id" < 3)
        .select($"vec_id".as("probe"), $"qv".as("pqv"), $"nrm".as("pn"))
      val cand = q.where($"vec_id" < 300)
        .select($"vec_id".as("cand"), $"qv".as("cqv"), $"nrm".as("cn"))
      val w = Window.partitionBy($"probe").orderBy($"sim".desc, $"cand".asc)
      broadcast(p).join(cand, $"probe" =!= $"cand")
        .withColumn("dot", expr("aggregate(zip_with(pqv, cqv, (x, y) -> x*y), 0L, (a, x) -> a + x)"))
        .withColumn("sim", $"dot".cast("double") / sqrt($"pn".cast("double") * $"cn".cast("double")))
        .select($"probe", $"cand", row_number().over(w).as("rn"))
        .where($"rn" <= 5)
        .orderBy($"probe", $"rn")
    },
    Some("""WITH q AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
           |  FROM embeddings),
           |qn AS (SELECT vec_id, qv,
           |    list_sum(list_transform(qv, x -> x*x)) AS nrm FROM q),
           |pairs AS (
           |  SELECT p.vec_id AS probe, c.vec_id AS cand,
           |    list_sum(list_transform(range(len(p.qv)), i -> p.qv[i+1] * c.qv[i+1])) AS dot,
           |    p.nrm AS pn, c.nrm AS cn
           |  FROM qn p, qn c
           |  WHERE p.vec_id < 3 AND c.vec_id < 300 AND p.vec_id <> c.vec_id)
           |SELECT probe, cand, rn FROM (
           |  SELECT probe, cand, row_number() OVER (PARTITION BY probe
           |    ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(pn AS DOUBLE)*CAST(cn AS DOUBLE)) DESC, cand) AS rn
           |  FROM pairs) WHERE rn <= 5 ORDER BY probe, rn""".stripMargin))

  // ------------------------------------------------------------------
  // Training-data pipeline: text analysis
  // ------------------------------------------------------------------

  /** Language ID via character-trigram profiles (ops.TextStats
    * .trigramProfiles — the n-gram-profile construction, integer scoring):
    * score = padded-trigram hits against each language's fixed profile
    * table, prediction = ordered argmax. The profile literals are generated
    * from ONE Scala constant into both engines. */
  private val qLangId = QueryDef(
    "q_langid",
    (s, dir) => {
      import s.implicits._
      val profs = ops.TextStats.trigramProfiles
      val names = profs.map(_._1)
      val organic = t(s, dir, "documents").where($"doc_id" < 100)
        .select(concat(lit("doc"), $"doc_id".cast("string")).as("fid"), $"text")
      val planted = ops.TextStats.plantedFixtures
        .map { case (fid, _, tx) => (fid, tx) }.toDF("fid", "text")
      val scored = organic.unionByName(planted)
        .select(col("fid") +: profs.map { case (n, p) =>
          ops.TextStats.trigramScore($"text", p).as(s"s_$n") }: _*)
      // ordered argmax over the ALREADY-computed score columns (each
      // trigram scan runs once; the when-cascade only compares ints)
      val pred = names.init.zipWithIndex.foldRight(lit(names.last): Column) {
        case ((n, i), els) =>
          when(names.drop(i + 1).map(l => col(s"s_$n") >= col(s"s_$l"))
            .reduce(_ && _), n).otherwise(els)
      }
      scored.withColumn("pred", pred).orderBy($"fid")
    },
    Some {
      val profs = ops.TextStats.trigramProfiles
      val vals = ops.TextStats.plantedFixtures
        .map { case (fid, _, tx) =>
          s"(${ops.TextStats.sqlLit(fid)}, ${ops.TextStats.sqlLit(tx)})" }
        .mkString(",\n    ")
      val scoreCols = profs.map { case (n, p) =>
        s"${ops.TextStats.trigramScoreSql("text", p)} AS s_$n" }.mkString(",\n  ")
      s"""WITH organic AS (SELECT 'doc' || CAST(doc_id AS VARCHAR) AS fid, text
         |    FROM documents WHERE doc_id < 100),
         |planted AS (SELECT * FROM (VALUES
         |    $vals) p(fid, text)),
         |allr AS (SELECT * FROM organic UNION ALL SELECT * FROM planted),
         |scored AS (SELECT fid,
         |  $scoreCols
         |  FROM allr)
         |SELECT fid, ${profs.map(p => s"s_${p._1}").mkString(", ")},
         |  ${ops.TextStats.langIdCaseSql(n => s"s_$n")} AS pred
         |FROM scored ORDER BY fid""".stripMargin
    })

  /** CORPUS-SCALE language ID (ops.TextStats.langIdBulk): explode padded
    * trigrams once → broadcast (trigram, lang) profile join → partial-agg
    * argmax with the first-profile tie-break — the plan shape that stays
    * linear at 10⁹ documents. The oracle replays the join/argmax from the
    * same profile constant; zero-hit docs take the deterministic default. */
  private val qLangIdBulk = QueryDef(
    "q_langid_bulk",
    (s, dir) => {
      import s.implicits._
      val organic = t(s, dir, "documents").where($"doc_id" < 300)
        .select(concat(lit("doc"), $"doc_id".cast("string")).as("fid"), $"text")
      val planted = ops.TextStats.plantedFixtures
        .map { case (fid, _, tx) => (fid, tx) }.toDF("fid", "text")
      ops.TextStats.langIdBulk(organic.unionByName(planted), "fid", "text")
        .orderBy($"fid")
    },
    Some {
      val names = ops.TextStats.trigramProfiles.map(_._1)
      val profVals = ops.TextStats.trigramProfiles.flatMap { case (l, ts) =>
        ts.map(t => s"(${ops.TextStats.sqlLit(t)}, '$l')")
      }.mkString(",\n    ")
      val plantedVals = ops.TextStats.plantedFixtures
        .map { case (fid, _, tx) =>
          s"(${ops.TextStats.sqlLit(fid)}, ${ops.TextStats.sqlLit(tx)})" }
        .mkString(",\n    ")
      val rankCase = names.zipWithIndex
        .map { case (n, i) => s"WHEN '$n' THEN ${i + 1}" }
        .mkString("CASE lang ", " ", " END")
      s"""WITH organic AS (SELECT 'doc' || CAST(doc_id AS VARCHAR) AS fid, text
         |    FROM documents WHERE doc_id < 300),
         |planted AS (SELECT * FROM (VALUES
         |    $plantedVals) p(fid, text)),
         |allr AS (SELECT * FROM organic UNION ALL SELECT * FROM planted),
         |prof AS (SELECT * FROM (VALUES
         |    $profVals) pr(t, lang)),
         |tri AS (SELECT fid, unnest(list_transform(
         |    range(length(' ' || text || ' ') - 2),
         |    i -> substr(' ' || text || ' ', i + 1, 3))) AS t FROM allr),
         |sc AS (SELECT fid, lang, count(*) AS s
         |       FROM tri JOIN prof USING (t) GROUP BY fid, lang),
         |ranked AS (SELECT fid, lang, row_number() OVER (
         |    PARTITION BY fid ORDER BY s DESC, $rankCase ASC) AS rn FROM sc),
         |best AS (SELECT fid, lang FROM ranked WHERE rn = 1)
         |SELECT a.fid AS fid,
         |  CASE WHEN a.text IS NULL THEN NULL
         |       ELSE coalesce(b.lang, '${names.head}') END AS pred
         |FROM (SELECT fid, text FROM allr) a LEFT JOIN best b ON a.fid = b.fid
         |ORDER BY a.fid""".stripMargin
    })

  /** TRAINED language profiles (ops.TextStats.trainProfiles): derive each
    * language's top-N padded trigrams from the labeled fixture sample
    * (count desc, trigram asc — a pure function of the sample), then
    * classify the sample with the TRAINED profiles via the shared scorer.
    * The oracle replays the training window and the argmax in SQL; the
    * trained tie-break order is lexicographic language name. */
  private val qLangIdTrain = QueryDef(
    "q_langid_train",
    (s, dir) => {
      import s.implicits._
      val labeled = ops.TextStats.plantedFixtures.toDF("fid", "lang", "text")
      val trained = ops.TextStats.trainProfiles(labeled, "lang", "text", topN = 40)
      labeled
        .select($"fid", ops.TextStats.langIdWith($"text", trained).as("pred"))
        .orderBy($"fid")
    },
    Some {
      val plantedVals = ops.TextStats.plantedFixtures
        .map { case (fid, lang, tx) =>
          s"(${ops.TextStats.sqlLit(fid)}, '$lang', ${ops.TextStats.sqlLit(tx)})" }
        .mkString(",\n    ")
      val default = ops.TextStats.profileWords.map(_._1).sorted.head
      s"""WITH planted AS (SELECT * FROM (VALUES
         |    $plantedVals) p(fid, lang, text)),
         |tri AS (SELECT fid, lang, unnest(list_transform(
         |    range(length(' ' || text || ' ') - 2),
         |    i -> substr(' ' || text || ' ', i + 1, 3))) AS t FROM planted),
         |cnt AS (SELECT lang, t, count(*) AS n FROM tri GROUP BY 1, 2),
         |prof AS (SELECT lang, t FROM
         |  (SELECT lang, t, row_number() OVER (PARTITION BY lang ORDER BY n DESC, t ASC) AS rk
         |   FROM cnt) WHERE rk <= 40),
         |sc AS (SELECT d.fid, p.lang, count(*) AS s
         |       FROM tri d JOIN prof p ON d.t = p.t GROUP BY 1, 2),
         |best AS (SELECT fid, lang FROM
         |  (SELECT fid, lang, row_number() OVER (PARTITION BY fid ORDER BY s DESC, lang ASC) AS rn
         |   FROM sc) WHERE rn = 1)
         |SELECT p.fid AS fid, coalesce(b.lang, '$default') AS pred
         |FROM planted p LEFT JOIN best b ON b.fid = p.fid
         |ORDER BY p.fid""".stripMargin
    })

  /** Quality scoring — the classifier's integer text-density formula
    * (4·words + 3·stopwords − 2·punct) exposed on the SQL surface. */
  private val qQuality = QueryDef(
    "q_quality_score",
    (s, dir) => {
      import s.implicits._
      val stops = Classify.Stopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
      t(s, dir, "documents")
        .where($"doc_id" < 200)
        .select($"doc_id",
          size(split($"text", " ")).as("words"),
          expr(s"size(filter(split(text, ' '), w -> w in ($stops)))").as("stops"))
        .withColumn("score", (lit(4) * $"words" + lit(3) * $"stops").cast("int"))
        .orderBy($"doc_id")
    },
    Some {
      val stops = Classify.Stopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
      s"""SELECT doc_id, words, stops, CAST(4*words + 3*stops AS INT) AS score
         |FROM (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS words,
         |  CAST(len(list_filter(string_split(text, ' '), w -> list_contains([$stops], w))) AS INT) AS stops
         |  FROM documents WHERE doc_id < 200)
         |ORDER BY doc_id""".stripMargin
    })

  /** BPE-style regex pre-tokenization (ops.TextStats.preTokens) over the
    * punctuation-rich JSON props column — letter runs / digit runs / single
    * symbols, optionally space-prefixed; the pattern constant is shared
    * verbatim with the oracle (Java regex and RE2 agree on these disjoint
    * ordered branches). */
  private val qTokenRegex = QueryDef(
    "q_token_regex",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .where($"event_id" < 100)
        .select($"event_id", ops.TextStats.preTokens($"props").as("toks"))
        .select($"event_id",
          size($"toks").as("n_tok"),
          concat_ws("|", slice($"toks", 1, 6)).as("head"))
        .orderBy($"event_id")
    },
    Some(s"""SELECT event_id, CAST(len(toks) AS INT) AS n_tok,
            |  array_to_string(toks[1:6], '|') AS head
            |FROM (SELECT event_id,
            |        regexp_extract_all(props, '${ops.TextStats.PreTokenPattern}') AS toks
            |      FROM events WHERE event_id < 100)
            |ORDER BY event_id""".stripMargin))

  /** Real subword tokenization (ops.Bpe): ordered-merge BPE with the
    * fixed DemoMerges table — symbolize (one char per symbol, text spaces
    * become the boundary symbol) → fold of literal replaces in rank order →
    * boundary removal. Two independent formulas are cross-checked per row:
    * the token ARRAY (n_tok, head) and the hot-path LENGTH-ALGEBRA count
    * (cnt_alg); the oracle regenerates both from the same Scala constant. */
  private val qBpe = QueryDef(
    "q_bpe_tokens",
    (s, dir) => {
      import s.implicits._
      val toks = ops.Bpe.bpeTokens($"text", ops.Bpe.DemoMerges)
      t(s, dir, "documents")
        .where($"doc_id" < 150)
        .select($"doc_id",
          size(toks).as("n_tok"),
          concat_ws("|", slice(toks, 1, 8)).as("head"),
          ops.Bpe.bpeTokenCount($"text", ops.Bpe.DemoMerges).as("cnt_alg"))
        .orderBy($"doc_id")
    },
    Some {
      val m = ops.Bpe.mergedSql("text", ops.Bpe.DemoMerges)
      s"""WITH m AS (SELECT doc_id, text, $m AS mrg
         |  FROM documents WHERE doc_id < 150),
         |t AS (SELECT doc_id, text, mrg,
         |    list_filter(string_split(ltrim(mrg, ' '), ' '),
         |      x -> x <> chr(1) AND x <> '') AS toks FROM m)
         |SELECT doc_id, CAST(len(toks) AS INT) AS n_tok,
         |  array_to_string(toks[1:8], '|') AS head,
         |  CAST(${ops.Bpe.tokenCountSql("mrg", "text")} AS INT) AS cnt_alg
         |FROM t ORDER BY doc_id""".stripMargin
    })

  /** Tokenizer diagnostics (ops.Bpe.tokenizerStats): per-source fertility
    * (BPE tokens per word) and compression (chars per token) in basis
    * points — the rollup a trained merge table is judged by before a
    * corpus commits to it. Integer floor-division ratios; the oracle
    * replays the merge chain and both ratios from the shared constants. */
  private val qBpeStats = QueryDef(
    "q_bpe_stats",
    (s, dir) => {
      import s.implicits._
      ops.Bpe.tokenizerStats(
          t(s, dir, "documents").where($"doc_id" < 300)
            .select($"source", $"text"),
          "source", "text", ops.Bpe.DemoMerges)
        .orderBy($"source")
    },
    Some {
      val m = ops.Bpe.mergedSql("text", ops.Bpe.DemoMerges)
      val cnt = ops.Bpe.tokenCountSql("mrg", "text")
      s"""WITH m AS (SELECT source, text, $m AS mrg
         |  FROM documents WHERE doc_id < 300),
         |per AS (SELECT source,
         |    CAST($cnt AS BIGINT) AS tok,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
         |      AS BIGINT) AS w,
         |    CAST(length(text) AS BIGINT) AS ch
         |  FROM m)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS bpe_tokens,
         |  CAST(sum(w) AS BIGINT) AS words,
         |  CAST(sum(ch) AS BIGINT) AS chars,
         |  CAST(CASE WHEN sum(w) > 0 THEN (sum(tok) * 10000) // sum(w) END AS INT) AS fertility_bp,
         |  CAST(CASE WHEN sum(tok) > 0 THEN (sum(ch) * 10000) // sum(tok) END AS INT) AS compression_bp
         |FROM per GROUP BY source ORDER BY source""".stripMargin
    })

  /** Frozen-vocabulary OOV audit (ops.Bpe.oovStats): a vocabulary built
    * on one slice of the corpus is applied to a DISJOINT slice, and the
    * per-source token volume / OOV count / OOV rate are rolled up — the
    * number an operator checks before reusing a committed tokenizer on a
    * fresh crawl. The oracle rebuilds the same vocab (distinct tokens of
    * slice A), re-tokenizes slice B with the shared merged-string recipe,
    * and counts tokens missing from the vocab via a left join; zero-token
    * sources survive through the DISTINCT-source spine on both sides. */
  private val qVocabOov = QueryDef(
    "q_vocab_oov",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val vocab = ops.Bpe.buildVocab(docs.where($"doc_id" < 100), "text",
        ops.Bpe.DemoMerges)
      ops.Bpe.oovStats(docs.where($"doc_id" >= 100 && $"doc_id" < 300),
          "source", "text", ops.Bpe.DemoMerges, vocab)
        .orderBy($"source")
    },
    Some {
      val m = ops.Bpe.mergedSql("text", ops.Bpe.DemoMerges)
      val toks = "list_filter(string_split(ltrim(mrg, ' '), ' '), x -> x <> '')"
      s"""WITH ma AS (SELECT $m AS mrg FROM documents WHERE doc_id < 100),
         |va AS (SELECT DISTINCT unnest($toks) AS token FROM ma),
         |mb AS (SELECT source, $m AS mrg
         |  FROM documents WHERE doc_id >= 100 AND doc_id < 300),
         |tb AS (SELECT source, $toks AS toks FROM mb),
         |e AS (SELECT source, unnest(toks) AS token FROM tb),
         |k AS (SELECT e.source, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS oov
         |  FROM e LEFT JOIN va v USING (token) GROUP BY e.source),
         |s AS (SELECT DISTINCT source FROM mb)
         |SELECT s.source, coalesce(k.n, 0) AS tokens,
         |  coalesce(k.oov, 0) AS oov_tokens,
         |  CAST(CASE WHEN coalesce(k.n, 0) > 0 THEN (k.oov * 10000) // k.n
         |       END AS INT) AS oov_bp
         |FROM s LEFT JOIN k USING (source) ORDER BY s.source""".stripMargin
    })

  /** Token-id round trip (ops.Bpe.buildVocab / encodeIds / decodeIds):
    * the corpus-derived vocabulary assigns contiguous lexicographic ids,
    * documents encode to int-id sequences over the boundary-RETAINING
    * token form, and decoding reproduces the input text exactly — the
    * training-shard detokenization contract. The oracle rebuilds the same
    * vocabulary (row_number over the distinct tokens), re-encodes via
    * join + ordered array_agg, and replays the round-trip check; ids_sum
    * is the order-insensitive checksum, head the order-sensitive one. */
  private val qBpeRoundtrip = QueryDef(
    "q_bpe_roundtrip",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").where($"doc_id" < 150)
      val vocab = ops.Bpe.buildVocab(docs, "text", ops.Bpe.DemoMerges)
      val enc = ops.Bpe.encodeIds(docs, "doc_id", "text",
        ops.Bpe.DemoMerges, vocab)
      ops.Bpe.decodeIds(enc, "ids", vocab)
        .join(docs.select($"doc_id", $"text"), Seq("doc_id"))
        .select($"doc_id",
          // coalesce: a NULL text yields NULL ids on this side but a
          // missing left-join row (→ coalesced 0) in the oracle — both
          // sides must agree on 0 for the bit-for-bit compare
          coalesce(size($"ids"), lit(0)).as("n_ids"),
          concat_ws("|", transform(slice($"ids", 1, 8), _.cast("string")))
            .as("head"),
          coalesce(aggregate($"ids", lit(0L), (a, x) => a + x), lit(0L))
            .as("ids_sum"),
          when($"decoded" === $"text", 1).otherwise(0).as("roundtrip"))
        .orderBy($"doc_id")
    },
    Some {
      val m = ops.Bpe.mergedSql("text", ops.Bpe.DemoMerges)
      s"""WITH m AS (SELECT doc_id, text, $m AS mrg
         |  FROM documents WHERE doc_id < 150),
         |t AS (SELECT doc_id, text,
         |    list_filter(string_split(ltrim(mrg, ' '), ' '), x -> x <> '')
         |      AS toks FROM m),
         |v AS (SELECT token,
         |    CAST(row_number() OVER (ORDER BY token) - 1 AS INT) AS token_id
         |  FROM (SELECT DISTINCT unnest(toks) AS token FROM t)),
         |e AS (SELECT doc_id, i, toks[i] AS token
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i
         |        FROM t)),
         |j AS (SELECT e.doc_id, e.i, v.token_id, e.token
         |  FROM e JOIN v USING (token)),
         |a AS (SELECT doc_id, array_agg(token_id ORDER BY i) AS ids,
         |    string_agg(token, '' ORDER BY i) AS cat
         |  FROM j GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(coalesce(len(a.ids), 0) AS INT) AS n_ids,
         |  coalesce(array_to_string(a.ids[1:8], '|'), '') AS head,
         |  CAST(coalesce(list_sum(a.ids), 0) AS BIGINT) AS ids_sum,
         |  CASE WHEN replace(coalesce(a.cat, ''), chr(1), ' ') = t.text
         |       THEN 1 ELSE 0 END AS roundtrip
         |FROM t LEFT JOIN a USING (doc_id) ORDER BY t.doc_id""".stripMargin
    })

  /** Z-order interleave math (ops.Zorder.zorderKey): the Morton key the
    * clustered-layout writer sorts by, over two quantized dimensions of
    * the documents table. The oracle regenerates the SAME bit-algebra SQL
    * from the shared recipe ([[graft.ops.Zorder.zorderSql]]) — the
    * cross-engine contract that lets any engine verify which files a
    * clustered table's scan may skip. ZorderSpec carries the measured
    * file-pruning evidence; this query pins the key math. */
  private val qZorder = QueryDef(
    "q_zorder",
    (s, dir) => {
      import s.implicits._
      val x = $"doc_id" % 64
      val y = $"n_chars" % 64
      t(s, dir, "documents").where($"doc_id" < 200)
        .select($"doc_id", x.as("x"), y.as("y"),
          ops.Zorder.zorderKey(6, x, y).as("zkey"))
        .orderBy($"doc_id")
    },
    Some {
      val z = ops.Zorder.zorderSql(6, Seq("(doc_id % 64)", "(n_chars % 64)"))
      s"""SELECT doc_id, CAST(doc_id % 64 AS BIGINT) AS x,
         |  CAST(n_chars % 64 AS BIGINT) AS y, CAST($z AS BIGINT) AS zkey
         |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
    })

  /** Token counting: whitespace tokens + long-token subset. */
  private val qTokens = QueryDef(
    "q_token_count",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 200)
        .select($"doc_id",
          size(split($"text", " ")).as("tokens"),
          expr("size(filter(split(text, ' '), w -> length(w) > 4))").as("long_tokens"),
          $"n_chars")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS tokens,
           |  CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 4)) AS INT) AS long_tokens,
           |  n_chars
           |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------------------
  // Training-data pipeline: corpus cleaning (ops.Cleaning)
  // ------------------------------------------------------------------

  /** Gopher-style repetition statistics: top-word / top-bigram / duplicate-
    * line fractions (basis points). Docs with doc_id % 4 == 1 get a 16-word
    * spam prefix (two identical 8-word lines) so the duplicate-line metric
    * is exercised, not identically zero. */
  private val qRepetition = QueryDef(
    "q_repetition",
    (s, dir) => {
      import s.implicits._
      val spam = ops.Cleaning.BoilerLine
      t(s, dir, "documents")
        .where($"doc_id" < 300)
        .select($"doc_id",
          when($"doc_id" % 4 === 1, concat(lit(s"$spam $spam "), $"text"))
            .otherwise($"text").as("ptext"))
        .withColumn("w", ops.Cleaning.wordsOf($"ptext"))
        .select($"doc_id",
          size($"w").as("n_words"),
          ops.Cleaning.topWordFracQ4($"w").as("top_word_q4"),
          ops.Cleaning.topBigramFracQ4($"w").as("top_bigram_q4"),
          ops.Cleaning.dupLineFracQ4($"w", 8).as("dup_line_q4"))
        .orderBy($"doc_id")
    },
    Some {
      val spam = ops.Cleaning.BoilerLine
      def mode(arr: String) =
        s"list_max(list_transform(list_distinct($arr), x -> len(list_filter($arr, y -> y = x))))"
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 1 THEN '$spam $spam ' || text ELSE text END AS ptext
         |  FROM documents WHERE doc_id < 300),
         |ww AS (SELECT doc_id, string_split(ptext, ' ') AS w FROM p),
         |l AS (SELECT doc_id, w,
         |    list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bi,
         |    list_transform(range(0, ((len(w)-1)//8) + 1),
         |      i -> array_to_string(w[i*8+1 : i*8+8], ' ')) AS ls
         |  FROM ww)
         |SELECT doc_id, CAST(len(w) AS INT) AS n_words,
         |  CAST(floor(CAST(${mode("w")} AS DOUBLE) / CAST(len(w) AS DOUBLE) * 10000) AS INT) AS top_word_q4,
         |  CASE WHEN len(w) < 2 THEN 0
         |       ELSE CAST(floor(CAST(${mode("bi")} AS DOUBLE) / CAST(len(w) - 1 AS DOUBLE) * 10000) AS INT)
         |  END AS top_bigram_q4,
         |  CAST(floor(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE) * 10000) AS INT) AS dup_line_q4
         |FROM l ORDER BY doc_id""".stripMargin
    })

  /** Gopher n-gram repetition statistics in the paper's CHARACTER currency:
    * top-3-gram char fraction (Rae et al. §A1.1 top-n-gram family) and
    * duplicate-5-gram char fraction (duplicate-n-gram family, positions
    * counted once via the covered-position union). Same spam planting as
    * q_repetition so both metrics are exercised: the doubled 8-word boiler
    * line creates a duplicated 5-gram run AND a dominant repeated 3-gram.
    * The DuckDB twin replays the struct-ordered (count, length) argmax as
    * a cnt·100000+len integer encoding — identical ordering while gram
    * length < 100000 chars, which the <300-doc fixture guarantees. */
  private val qNgramStats = QueryDef(
    "q_ngram_stats",
    (s, dir) => {
      import s.implicits._
      val spam = ops.Cleaning.BoilerLine
      t(s, dir, "documents")
        .where($"doc_id" < 300)
        .select($"doc_id",
          when($"doc_id" % 4 === 1, concat(lit(s"$spam $spam "), $"text"))
            .otherwise($"text").as("ptext"))
        .withColumn("w", ops.Cleaning.wordsOf($"ptext"))
        .select($"doc_id",
          ops.Cleaning.topNgramCharFracQ4($"w", 3).as("top3_q4"),
          ops.Cleaning.dupNgramCharFracQ4($"w", 5).as("dup5_q4"))
        .orderBy($"doc_id")
    },
    Some {
      val spam = ops.Cleaning.BoilerLine
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 4 = 1 THEN '$spam $spam ' || text ELSE text END AS ptext
         |  FROM documents WHERE doc_id < 300),
         |ww AS (SELECT doc_id, string_split(ptext, ' ') AS w FROM p),
         |g AS (SELECT doc_id, w,
         |    list_transform(range(1, len(w) - 1), i -> array_to_string(w[i : i+2], ' ')) AS g3,
         |    list_transform(range(1, len(w) - 3), i -> array_to_string(w[i : i+4], ' ')) AS g5
         |  FROM ww),
         |b AS (SELECT doc_id, w, g5,
         |    list_max(list_transform(list_distinct(g3),
         |      x -> len(list_filter(g3, y -> y = x)) * 100000 + length(x))) AS enc
         |  FROM g),
         |d AS (SELECT doc_id, w, enc,
         |    list_filter(list_distinct(g5),
         |      x -> len(list_filter(g5, y -> y = x)) >= 2) AS dup,
         |    g5
         |  FROM b),
         |c AS (SELECT doc_id, w, enc,
         |    list_distinct(flatten(list_transform(
         |      list_filter(range(1, len(w) - 3), i -> list_contains(dup, g5[i])),
         |      i -> range(i, i + 5)))) AS covered
         |  FROM d)
         |SELECT doc_id,
         |  CASE WHEN len(w) < 3 THEN 0
         |       ELSE CAST(LEAST(10000, floor(
         |         CAST(enc // 100000 AS DOUBLE) * CAST(enc % 100000 AS DOUBLE)
         |         / length(array_to_string(w, ' ')) * 10000)) AS INT)
         |  END AS top3_q4,
         |  CASE WHEN len(w) < 5 THEN 0
         |       ELSE CAST(floor(
         |         CAST(coalesce(list_sum(list_transform(covered, pp -> length(w[pp]))), 0) AS DOUBLE)
         |         / CAST(length(array_to_string(w, '')) AS DOUBLE) * 10000) AS INT)
         |  END AS dup5_q4
         |FROM c ORDER BY doc_id""".stripMargin
    })

  /** Gopher QUALITY rules (the non-repetition §A1.1 half): mean word
    * length, hash / ellipsis symbol-to-word ratios, bullet and
    * ellipsis-terminated line fractions, alphabetic-word fraction,
    * required-stopword count, and the composed gate. Planted by residue
    * class so every rule fires on some docs: %5==1 gets two bullet lines,
    * %5==2 gets ellipsis-terminated lines (and ellipsis symbols), %5==3
    * gets five '#' chars, %5==4 gets four non-alphabetic words. The gate
    * runs the REAL [[graft.ops.Cleaning.gopherQualityGate]] operator (not
    * a re-derivation from the emitted stats); DuckDB recomputes every rule
    * independently. */
  private val qGopherQuality = QueryDef(
    "q_gopher_quality",
    (s, dir) => {
      import s.implicits._
      val nl = "\n"
      t(s, dir, "documents")
        .where($"doc_id" < 300)
        .select($"doc_id",
          when($"doc_id" % 5 === 1,
              concat(lit(s"- alpha beta$nl* gamma delta$nl"), $"text"))
            .when($"doc_id" % 5 === 2,
              concat(lit(s"teaser one...$nl"), $"text", lit("...")))
            .when($"doc_id" % 5 === 3, concat(lit("# # # ## "), $"text"))
            .when($"doc_id" % 5 === 4, concat(lit("12345 67890 !!! ??? "), $"text"))
            .otherwise($"text").as("t"))
        .withColumn("w", ops.Cleaning.wordsOf($"t"))
        .select($"doc_id",
          size($"w").as("n_words"),
          ops.Cleaning.meanWordLenQ2($"w").as("mean_wlen_q2"),
          ops.Cleaning.symbolWordFracQ4($"t", $"w", "#").as("hash_q4"),
          ops.Cleaning.symbolWordFracQ4($"t", $"w", "...").as("ellipsis_q4"),
          ops.Cleaning.bulletLineFracQ4($"t").as("bullet_q4"),
          ops.Cleaning.ellipsisLineFracQ4($"t").as("ellipsis_line_q4"),
          ops.Cleaning.alphaWordFracQ4($"w").as("alpha_q4"),
          ops.Cleaning.stopwordHits($"w").as("stop_hits"),
          ops.Cleaning.gopherQualityGate($"t", $"w", minWords = 20)
            .cast("int").as("gate"))
        .orderBy($"doc_id")
    },
    Some {
      val stops = ops.Cleaning.GopherStopwords.map("'" + _ + "'").mkString(", ")
      s"""WITH p AS (SELECT doc_id,
         |    CASE CAST(doc_id % 5 AS INT)
         |      WHEN 1 THEN '- alpha beta' || chr(10) || '* gamma delta' || chr(10) || text
         |      WHEN 2 THEN 'teaser one...' || chr(10) || text || '...'
         |      WHEN 3 THEN '# # # ## ' || text
         |      WHEN 4 THEN '12345 67890 !!! ??? ' || text
         |      ELSE text END AS t
         |  FROM documents WHERE doc_id < 300),
         |ww AS (SELECT doc_id, t, string_split(t, ' ') AS w,
         |    string_split(t, chr(10)) AS ls FROM p),
         |st AS (SELECT doc_id,
         |    CAST(len(w) AS INT) AS n_words,
         |    CAST(floor(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
         |      / len(w) * 100) AS INT) AS mean_wlen_q2,
         |    CAST(floor(CAST(length(t) - length(replace(t, '#', '')) AS DOUBLE)
         |      / len(w) * 10000) AS INT) AS hash_q4,
         |    CAST(floor(CAST((length(t) - length(replace(t, '...', ''))) // 3 AS DOUBLE)
         |      / len(w) * 10000) AS INT) AS ellipsis_q4,
         |    CAST(floor(CAST(len(list_filter(ls, l -> starts_with(l, '- ')
         |        OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
         |      / len(ls) * 10000) AS INT) AS bullet_q4,
         |    CAST(floor(CAST(len(list_filter(ls, l -> right(l, 3) = '...')) AS DOUBLE)
         |      / len(ls) * 10000) AS INT) AS ellipsis_line_q4,
         |    CAST(floor(CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
         |      / len(w) * 10000) AS INT) AS alpha_q4,
         |    CAST(len(list_filter([$stops], s -> list_contains(w, s))) AS INT) AS stop_hits
         |  FROM ww)
         |SELECT *, CAST(CASE WHEN n_words BETWEEN 20 AND 100000
         |    AND mean_wlen_q2 BETWEEN 300 AND 1000
         |    AND hash_q4 <= 1000 AND ellipsis_q4 <= 1000
         |    AND bullet_q4 <= 9000 AND ellipsis_line_q4 <= 3000
         |    AND alpha_q4 >= 8000 AND stop_hits >= 2
         |  THEN 1 ELSE 0 END AS INT) AS gate
         |FROM st ORDER BY doc_id""".stripMargin
    })

  /** C4 rules (Raffel et al. 2020 §2.2): line-level retention (terminal
    * punctuation, ≥5 words, no "javascript") and page-level discard
    * (≥3 surviving sentences, no "lorem ipsum", no curly bracket) —
    * with q_gopher_quality and q_lm_buckets this completes the three
    * canonical cleaning recipes. Planted by residue class so every rule
    * fires: every doc gets one 3-sentence keeper line; %5==1 adds a
    * javascript line (dropped, page survives), %5==2 a lorem-ipsum line
    * (line survives, PAGE dropped), %5==3 a code line with braces (line
    * dropped AND page dropped), %5==4 replaces the keeper with a 2-word
    * line (all lines dropped → sentence floor fails). DuckDB recomputes
    * the line filter, sentence proxy, and page gate independently. */
  private val qC4Rules = QueryDef(
    "q_c4_rules",
    (s, dir) => {
      import s.implicits._
      val nl = "\n"
      val good =
        "one two three four five. six seven eight nine ten! does it work well today?"
      t(s, dir, "documents")
        .where($"doc_id" < 300 && $"text".isNotNull)
        .select($"doc_id",
          when($"doc_id" % 5 === 1,
              concat(lit(s"$good$nl"), $"text",
                lit(s"${nl}please enable JavaScript to see five more.")))
            .when($"doc_id" % 5 === 2,
              concat(lit(s"$good$nl"), $"text",
                lit(s"${nl}lorem ipsum dolor sit amet.")))
            .when($"doc_id" % 5 === 3,
              concat(lit(s"$good$nl"), $"text",
                lit(s"${nl}var f = function() { return 1; }")))
            .when($"doc_id" % 5 === 4, concat(lit(s"tiny line.$nl"), $"text"))
            .otherwise(concat(lit(s"$good$nl"), $"text")).as("t"))
        .withColumn("c", ops.Cleaning.c4CleanLines($"t"))
        .select($"doc_id",
          size(split($"t", "\n")).cast("int").as("n_lines"),
          when($"c" === "", 0)
            .otherwise(size(split($"c", "\n"))).cast("int").as("kept_lines"),
          ops.Cleaning.sentenceCount($"c").as("sentences"),
          ops.Cleaning.c4PageGate($"t", $"c").cast("int").as("page_gate"),
          ops.Cleaning.c4Gate($"t").cast("int").as("gate"),
          md5($"c").as("sig"))
        .orderBy($"doc_id")
    },
    Some {
      val good =
        "one two three four five. six seven eight nine ten! does it work well today?"
      s"""WITH p AS (SELECT doc_id,
         |    CASE CAST(doc_id % 5 AS INT)
         |      WHEN 1 THEN '$good' || chr(10) || text || chr(10) ||
         |        'please enable JavaScript to see five more.'
         |      WHEN 2 THEN '$good' || chr(10) || text || chr(10) ||
         |        'lorem ipsum dolor sit amet.'
         |      WHEN 3 THEN '$good' || chr(10) || text || chr(10) ||
         |        'var f = function() { return 1; }'
         |      WHEN 4 THEN 'tiny line.' || chr(10) || text
         |      ELSE '$good' || chr(10) || text END AS t
         |  FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
         |f AS (SELECT doc_id, t,
         |    coalesce(array_to_string(list_filter(string_split(t, chr(10)),
         |      l -> (right(l, 1) = '.' OR right(l, 1) = '!' OR
         |            right(l, 1) = '?' OR right(l, 1) = '"')
         |        AND len(string_split(l, ' ')) >= 5
         |        AND NOT regexp_matches(lower(l), '\\bjavascript\\b')),
         |      chr(10)), '') AS c
         |  FROM p),
         |st AS (SELECT doc_id, t, c,
         |    CAST(length(c) - length(regexp_replace(c, '[.!?]', '', 'g')) AS INT) AS sentences
         |  FROM f)
         |SELECT doc_id,
         |  CAST(len(string_split(t, chr(10))) AS INT) AS n_lines,
         |  CAST(CASE WHEN c = '' THEN 0
         |       ELSE len(string_split(c, chr(10))) END AS INT) AS kept_lines,
         |  sentences,
         |  CAST(CASE WHEN sentences >= 3 AND NOT contains(lower(t), 'lorem ipsum')
         |       AND NOT contains(t, '{') THEN 1 ELSE 0 END AS INT) AS page_gate,
         |  CAST(CASE WHEN sentences >= 3 AND NOT contains(lower(t), 'lorem ipsum')
         |       AND NOT contains(t, '{') THEN 1 ELSE 0 END AS INT) AS gate,
         |  md5(c) AS sig
         |FROM st ORDER BY doc_id""".stripMargin
    })

  /** PII redaction: deterministic planted PII (email, dotted IPv4, 14-digit
    * card number derived from doc_id), per-category match counts, and the
    * md5 of the redacted text — the same three patterns drive Spark and
    * RE2 (DuckDB needs the 'g' flag; Spark replaces all by default). */
  private val qPiiRedact = QueryDef(
    "q_pii_redact",
    (s, dir) => {
      import s.implicits._
      val ptext = concat($"text",
        lit(" contact user"), $"doc_id".cast("string"),
        lit("@mail.example.com from 10."), ($"doc_id" % 256).cast("string"),
        lit(".0.7 card 4111222233"), lpad(($"doc_id" % 1000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .where($"doc_id" < 300)
        .select($"doc_id", ptext.as("ptext"))
        .select($"doc_id",
          ops.Cleaning.piiCount($"ptext", ops.Cleaning.EmailRe).cast("int").as("n_email"),
          ops.Cleaning.piiCount($"ptext", ops.Cleaning.Ipv4Re).cast("int").as("n_ip"),
          ops.Cleaning.piiCount($"ptext", ops.Cleaning.LongNumRe).cast("int").as("n_num"),
          md5(ops.Cleaning.redactPii($"ptext")).as("sig"))
        .orderBy($"doc_id")
    },
    Some {
      val (e, i, n) = (ops.Cleaning.EmailRe, ops.Cleaning.Ipv4Re, ops.Cleaning.LongNumRe)
      s"""WITH p AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.0.7 card 4111222233' || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0') AS ptext
         |  FROM documents WHERE doc_id < 300)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(ptext, '$e')) AS INT) AS n_email,
         |  CAST(len(regexp_extract_all(ptext, '$i')) AS INT) AS n_ip,
         |  CAST(len(regexp_extract_all(ptext, '$n')) AS INT) AS n_num,
         |  md5(regexp_replace(regexp_replace(regexp_replace(ptext,
         |    '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$n', '<NUM>', 'g')) AS sig
         |FROM p ORDER BY doc_id""".stripMargin
    })

  /** Benchmark decontamination: corpus docs sharing any word 5-gram with
    * the benchmark set (doc_id % 50 == 7) are dropped. The 9-word probe
    * sentence is planted into benchmark docs AND docs with doc_id % 7 == 3,
    * so those corpus docs carry exactly its 5 interior shingles. */
  private val qDecontaminate = QueryDef(
    "q_decontaminate",
    (s, dir) => {
      import s.implicits._
      val probe = ops.Cleaning.BenchProbe
      val p = t(s, dir, "documents")
        .select($"doc_id",
          when($"doc_id" % 50 === 7 || $"doc_id" % 7 === 3,
            concat($"text", lit(s" $probe"))).otherwise($"text").as("ptext"))
      val bench = p.where($"doc_id" % 50 === 7)
      val corpus = p.where($"doc_id" % 50 =!= 7)
      ops.Cleaning.decontaminate(corpus, bench, "doc_id", "ptext", 5)
        .orderBy($"doc_id")
    },
    Some {
      val probe = ops.Cleaning.BenchProbe
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 7 OR doc_id % 7 = 3
         |         THEN text || ' $probe' ELSE text END AS ptext
         |  FROM documents),
         |ww AS (SELECT doc_id, string_split(ptext, ' ') AS w FROM p),
         |sh AS (SELECT doc_id, md5(array_to_string(w[i : i+4], ' ')) AS sh
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM ww WHERE len(w) >= 5)),
         |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 7),
         |hits AS (SELECT s.doc_id, CAST(count(DISTINCT s.sh) AS INT) AS n_hits
         |  FROM sh s JOIN bench USING (sh) WHERE s.doc_id % 50 <> 7 GROUP BY s.doc_id)
         |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
         |  CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 0 ELSE 1 END AS keep
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 50 <> 7 ORDER BY d.doc_id""".stripMargin
    })

  /** Bloom-filtered decontamination: q_decontaminate's planting replayed
    * through [[graft.ops.Bloom]] with a DELIBERATELY small filter (4096
    * bits / 3 hashes over ~600 bench shingles), so real false positives
    * occur at sf0.01 — and the DuckDB oracle reproduces every one of them
    * bit-for-bit, because both engines derive each bit position from the
    * same portable md5 recipe. Proves the cross-engine contract that
    * justifies hand-rolling the sketch instead of using Spark's opaque
    * built-in bloomFilter. */
  private val qDecontaminateBloom = QueryDef(
    "q_decontaminate_bloom",
    (s, dir) => {
      import s.implicits._
      val probe = ops.Cleaning.BenchProbe
      val p = t(s, dir, "documents")
        .select($"doc_id",
          when($"doc_id" % 50 === 7 || $"doc_id" % 7 === 3,
            concat($"text", lit(s" $probe"))).otherwise($"text").as("ptext"))
      val bench = p.where($"doc_id" % 50 === 7)
      val corpus = p.where($"doc_id" % 50 =!= 7)
      ops.Cleaning.decontaminateBloom(corpus, bench, "doc_id", "ptext", 5,
        mBits = 4096, nHashes = 3)
        .orderBy($"doc_id")
    },
    Some {
      val probe = ops.Cleaning.BenchProbe
      val benchKeys = "SELECT sh AS key FROM sh WHERE doc_id % 50 = 7"
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 50 = 7 OR doc_id % 7 = 3
         |         THEN text || ' $probe' ELSE text END AS ptext
         |  FROM documents),
         |ww AS (SELECT doc_id, string_split(ptext, ' ') AS w FROM p),
         |sh AS (SELECT doc_id, md5(array_to_string(w[i : i+4], ' ')) AS sh
         |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM ww WHERE len(w) >= 5)),
         |bpos AS (${ops.Bloom.positionsSql(benchKeys, 4096, 3)}),
         |hits AS (SELECT doc_id, CAST(count(DISTINCT sh) AS INT) AS n_hits
         |  FROM sh WHERE doc_id % 50 <> 7
         |    AND ${ops.Bloom.containsSql("sh", "bpos", 4096, 3)}
         |  GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits,
         |  CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 0 ELSE 1 END AS keep
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 50 <> 7 ORDER BY d.doc_id""".stripMargin
    })

  /** Cross-document repeated-line pruning (C4/RefinedWeb boilerplate-line
    * removal): docs with doc_id % 3 == 0 carry the same 8-word spam line,
    * which therefore repeats across ≥5 docs and is pruned from all of them;
    * every natural line survives. */
  private val qLineDedup = QueryDef(
    "q_line_dedup",
    (s, dir) => {
      import s.implicits._
      val spam = ops.Cleaning.BoilerLine
      val p = t(s, dir, "documents")
        .select($"doc_id",
          when($"doc_id" % 3 === 0, concat(lit(s"$spam "), $"text"))
            .otherwise($"text").as("ptext"))
      ops.Cleaning.pruneRepeatedLines(p, "doc_id", "ptext", 8, 5)
        .select($"doc_id", $"n_lines", $"n_kept", md5($"new_text").as("sig"))
        .orderBy($"doc_id")
    },
    Some {
      val spam = ops.Cleaning.BoilerLine
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN '$spam ' || text ELSE text END AS ptext
         |  FROM documents),
         |ww AS (SELECT doc_id, string_split(ptext, ' ') AS w FROM p),
         |lines AS (SELECT doc_id, i AS pos, array_to_string(w[i*8+1 : i*8+8], ' ') AS line
         |  FROM (SELECT doc_id, w, unnest(range(0, ((len(w)-1)//8) + 1)) AS i FROM ww)),
         |hot AS (SELECT md5(line) AS lh FROM lines GROUP BY 1 HAVING count(DISTINCT doc_id) >= 5),
         |kept AS (SELECT doc_id, pos, line FROM lines WHERE md5(line) NOT IN (SELECT lh FROM hot)),
         |reb AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         |    string_agg(line, ' ' ORDER BY pos) AS new_text FROM kept GROUP BY doc_id),
         |nl AS (SELECT doc_id, CAST(((len(w)-1)//8) + 1 AS INT) AS n_lines FROM ww)
         |SELECT nl.doc_id, nl.n_lines, CAST(coalesce(reb.n_kept, 0) AS INT) AS n_kept,
         |  md5(coalesce(reb.new_text, '')) AS sig
         |FROM nl LEFT JOIN reb USING (doc_id) ORDER BY nl.doc_id""".stripMargin
    })

  /** DOMAIN-scoped repeated-line pruning (ops.Cleaning
    * .pruneRepeatedLinesByDomain): the planted boilerplate line repeats
    * across ≥5 docs of domain a.test (pruned there) but appears in exactly
    * ONE doc of b.test (kept there — the global rule q_line_dedup would
    * have pruned it everywhere or nowhere). Same replay as q_line_dedup
    * with the hot set keyed on (domain, line hash). */
  private val qLineDomain = QueryDef(
    "q_line_domain",
    (s, dir) => {
      import s.implicits._
      val spam = ops.Cleaning.BoilerLine
      val p = t(s, dir, "documents").where($"doc_id" < 60)
        .select($"doc_id",
          when($"doc_id" % 2 === 0, "a.test").otherwise("b.test").as("domain"),
          when($"doc_id" % 4 === 0 || $"doc_id" === 3, concat(lit(s"$spam "), $"text"))
            .otherwise($"text").as("ptext"))
      ops.Cleaning.pruneRepeatedLinesByDomain(p, "doc_id", "domain", "ptext", 8, 5)
        .select($"doc_id", $"domain", $"n_lines", $"n_kept", md5($"new_text").as("sig"))
        .orderBy($"doc_id")
    },
    Some {
      val spam = ops.Cleaning.BoilerLine
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'a.test' ELSE 'b.test' END AS domain,
         |    CASE WHEN doc_id % 4 = 0 OR doc_id = 3 THEN '$spam ' || text
         |         ELSE text END AS ptext
         |  FROM documents WHERE doc_id < 60),
         |ww AS (SELECT doc_id, domain, string_split(ptext, ' ') AS w FROM p),
         |lines AS (SELECT doc_id, domain, i AS pos,
         |    array_to_string(w[i*8+1 : i*8+8], ' ') AS line
         |  FROM (SELECT doc_id, domain, w,
         |          unnest(range(0, ((len(w)-1)//8) + 1)) AS i FROM ww)),
         |hot AS (SELECT domain, md5(line) AS lh FROM lines
         |  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 5),
         |kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l
         |  LEFT JOIN hot ON hot.domain = l.domain AND hot.lh = md5(l.line)
         |  WHERE hot.lh IS NULL),
         |reb AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
         |    string_agg(line, ' ' ORDER BY pos) AS new_text FROM kept GROUP BY doc_id),
         |nl AS (SELECT doc_id, domain, CAST(((len(w)-1)//8) + 1 AS INT) AS n_lines FROM ww)
         |SELECT nl.doc_id, nl.domain, nl.n_lines,
         |  CAST(coalesce(reb.n_kept, 0) AS INT) AS n_kept,
         |  md5(coalesce(reb.new_text, '')) AS sig
         |FROM nl LEFT JOIN reb USING (doc_id) ORDER BY nl.doc_id""".stripMargin
    })

  /** INTRA-document line dedup (ops.Cleaning.dedupLinesWithinDoc): keep
    * only the FIRST occurrence of each distinct line within a page —
    * pure per-row array algebra, no shuffle (the within-page twin of the
    * corpus-wide q_line_dedup). Pages are planted with repeated lines
    * (line 1 and line 2 each appear twice); the oracle replays the
    * first-occurrence filter with DuckDB's indexed list_filter. */
  private val qLineDedupDoc = QueryDef(
    "q_line_dedup_doc",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").where($"doc_id" < 200)
        .select($"doc_id", concat_ws("\n",
          substring($"text", 1, 40), substring($"text", 41, 40),
          substring($"text", 1, 40), substring($"text", 81, 40),
          substring($"text", 41, 40)).as("ptext"))
      docs.select($"doc_id",
          size(split($"ptext", "\n")).cast("int").as("n_lines"),
          ops.Cleaning.dedupLinesWithinDoc($"ptext").as("clean"))
        .select($"doc_id", $"n_lines",
          size(split($"clean", "\n")).cast("int").as("n_kept"),
          md5($"clean").as("sig"))
        .orderBy($"doc_id")
    },
    Some("""WITH d AS (SELECT doc_id,
           |    substr(text, 1, 40) || chr(10) || substr(text, 41, 40) || chr(10) ||
           |    substr(text, 1, 40) || chr(10) || substr(text, 81, 40) || chr(10) ||
           |    substr(text, 41, 40) AS ptext
           |  FROM documents WHERE doc_id < 200),
           |ls AS (SELECT doc_id, string_split(ptext, chr(10)) AS l FROM d),
           |kept AS (SELECT doc_id,
           |    list_filter(l, (x, i) -> list_position(l, x) = i) AS k FROM ls)
           |SELECT ls.doc_id, CAST(len(l) AS INT) AS n_lines,
           |  CAST(len(k) AS INT) AS n_kept,
           |  md5(array_to_string(k, chr(10))) AS sig
           |FROM ls JOIN kept ON kept.doc_id = ls.doc_id
           |ORDER BY ls.doc_id""".stripMargin))

  /** Deterministic mixture sampling + train/test split (ops.Sampling):
    * per-source keep rates in basis points over the md5-hash of doc_id,
    * then a salted-hash split label; per-source rollup of kept / test
    * counts and an id checksum. Every decision is replayed bit-exactly by
    * the oracle via the shared portable-hash recipe. */
  private val qMixtureSample = QueryDef(
    "q_mixture_sample",
    (s, dir) => {
      import s.implicits._
      val rates = Map("src0" -> 2500, "src1" -> 5000, "src2" -> 7500)
      val sampled = ops.Sampling.mixtureSample(
        t(s, dir, "documents").select($"doc_id", $"source"),
        "doc_id", "source", rates, defaultBp = 10000)
      sampled
        .withColumn("split", ops.Sampling.splitLabel($"doc_id", testBp = 1000))
        .groupBy($"source")
        .agg(count(lit(1)).cast("bigint").as("n_kept"),
          sum(when($"split" === "test", 1).otherwise(0)).cast("bigint").as("n_test"),
          sum($"doc_id").cast("bigint").as("id_sum"))
        .orderBy($"source")
    },
    Some {
      val h = ops.Sampling.hashBpSql("doc_id")
      val hs = ops.Sampling.hashBpSql("CAST(doc_id AS VARCHAR) || 'split'")
      s"""WITH s AS (SELECT doc_id, source, $h AS h, $hs AS hs FROM documents),
         |k AS (SELECT * FROM s WHERE h < CASE source
         |    WHEN 'src0' THEN 2500 WHEN 'src1' THEN 5000 WHEN 'src2' THEN 7500
         |    ELSE 10000 END)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN hs < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM k GROUP BY source ORDER BY source""".stripMargin
    })

  /** Fractional-epoch upsampling (ops.Sampling.mixtureEpochs): src0 runs
    * 3.4 epochs (every doc 3×, a deterministic hash-selected 40% a 4th
    * time), src1 downsamples to 25%, src2 drops entirely, everything
    * else runs one epoch; the fractional draw uses the default "epoch"
    * salt (decorrelated from mixtureSample's unsalted hash). The oracle
    * replays the bp resolution, the ⌊e⌋ + fractional-hash copy count,
    * and the per-copy epoch fan-out via range/unnest. */
  private val qMixtureEpochs = QueryDef(
    "q_mixture_epochs",
    (s, dir) => {
      import s.implicits._
      val epochs = Map("src0" -> 34000, "src1" -> 2500, "src2" -> 0)
      ops.Sampling.mixtureEpochs(
          t(s, dir, "documents").select($"doc_id", $"source"),
          "doc_id", "source", epochs, defaultBp = 10000)
        .orderBy($"doc_id", $"epoch")
    },
    Some {
      val h = ops.Sampling.hashBpSql("CAST(doc_id AS VARCHAR) || 'epoch'")
      s"""WITH s AS (SELECT doc_id, source, $h AS h FROM documents),
         |b AS (SELECT doc_id, source, h, CASE source
         |    WHEN 'src0' THEN 34000 WHEN 'src1' THEN 2500 WHEN 'src2' THEN 0
         |    ELSE 10000 END AS bp FROM s),
         |c AS (SELECT doc_id, source,
         |    (bp // 10000) + CASE WHEN h < bp % 10000 THEN 1 ELSE 0 END AS copies
         |  FROM b)
         |SELECT doc_id, source, CAST(unnest(range(copies)) AS INT) AS epoch
         |FROM c WHERE copies > 0 ORDER BY doc_id, epoch""".stripMargin
    })

  /** Temperature-scaled mixture (ops.Sampling.temperatureEpochs): per-stratum
    * epochs DERIVED from the corpus' own proportions at α = 0.5 —
    * epochs_i = sqrt(c_max/c_i), the largest stratum anchored at exactly one
    * pass, smaller strata upsampled toward (but not to) equal effective
    * size. Strata are text-LENGTH tiers (the sf sources are deliberately
    * balanced, which would degenerate to one epoch everywhere; length tiers
    * are naturally skewed, so the rare long-document tier genuinely
    * replicates). The oracle re-derives the basis points from scratch
    * (count → max → sqrt of an exact integer ratio → round-half-up — every
    * step IEEE-correctly-rounded, hence bit-identical across engines) and
    * replays the ⌊e⌋ + salted-fractional copy fan-out. */
  private val qMixtureTemperature = QueryDef(
    "q_mixture_temperature",
    (s, dir) => {
      import s.implicits._
      ops.Sampling.temperatureEpochs(
          t(s, dir, "documents").select($"doc_id",
            expr("CAST(least(length(text) DIV 256, 3) AS INT)").as("tier")),
          "doc_id", "tier", alpha = 0.5)
        .orderBy($"doc_id", $"epoch")
    },
    Some {
      val h = ops.Sampling.hashBpSql("CAST(doc_id AS VARCHAR) || 'temp'")
      s"""WITH d AS (SELECT doc_id,
         |    CAST(least(length(text) // 256, 3) AS INT) AS tier
         |  FROM documents),
         |cnt AS (SELECT tier, count(*) AS c FROM d GROUP BY 1),
         |mx AS (SELECT max(c) AS m FROM cnt),
         |bp AS (SELECT tier,
         |    CAST(floor(sqrt(CAST(m AS DOUBLE) / CAST(c AS DOUBLE)) * 10000
         |      + 0.5) AS INT) AS bp
         |  FROM cnt, mx),
         |s AS (SELECT doc_id, d.tier, bp, $h AS h
         |  FROM d JOIN bp USING (tier)),
         |c AS (SELECT doc_id, tier,
         |    (bp // 10000) + CASE WHEN h < bp % 10000 THEN 1 ELSE 0 END AS copies
         |  FROM s)
         |SELECT doc_id, tier, CAST(unnest(range(copies)) AS INT) AS epoch
         |FROM c WHERE copies > 0 ORDER BY doc_id, epoch""".stripMargin
    })

  /** Token-budget shard packing (ops.Sampling.packShards): documents fill
    * 500-token training shards per source in id order — exclusive window
    * cumsum div budget, identical frame semantics in both engines. */
  private val qTokenPack = QueryDef(
    "q_token_pack",
    (s, dir) => {
      import s.implicits._
      ops.Sampling.packShards(
          t(s, dir, "documents").select($"doc_id", $"source", $"text"),
          "doc_id", "source",
          size(split($"text", " ")).cast("bigint"), budget = 500)
        .select($"doc_id", $"source", $"tokens", $"shard")
        .orderBy($"doc_id")
    },
    Some("""SELECT doc_id, source, tokens, CAST(cum0 // 500 AS INT) AS shard
           |FROM (SELECT doc_id, source,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
           |    CAST(coalesce(sum(CAST(len(string_split(text, ' ')) AS BIGINT))
           |      OVER (PARTITION BY source ORDER BY doc_id
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Deterministic training-order shuffle (ops.Sampling.shuffleOrder):
    * every row gets a portable 60-bit shuffle key and the frame is
    * range-exchanged + sorted on it — a replayable global order with no
    * global window. The driver's compare is order-insensitive, so the
    * ORDER is surfaced as VALUES: bucket = the key's top 10 bits (the
    * key-range slice a loader would stream), pos = rank within the
    * bucket — both pure functions of the key, partition-invariant. The
    * oracle replays the chr(1)-joined md5 key (shuffleKeySql — the same
    * one-copy recipe as hashBp) and the (bucket, pos) encoding. */
  private val qShuffleOrder = QueryDef(
    "q_shuffle_order",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      ops.Sampling.shuffleOrder(
          t(s, dir, "documents").where($"doc_id" < 500)
            .select($"doc_id", $"source"),
          Seq($"doc_id"), salt = "epoch0", nParts = 8)
        .withColumn("bucket",
          expr(s"shuffle_key div ${1L << 50}").cast("int"))
        .withColumn("pos", row_number().over(
          Window.partitionBy($"bucket").orderBy($"shuffle_key", $"doc_id")))
        .orderBy($"bucket", $"pos")
    },
    Some {
      val key = ops.Sampling.shuffleKeySql(Seq("doc_id"), "epoch0")
      s"""WITH k AS (SELECT doc_id, source, $key AS shuffle_key
         |  FROM documents WHERE doc_id < 500),
         |b AS (SELECT *, CAST(shuffle_key // ${1L << 50} AS INT) AS bucket
         |  FROM k)
         |SELECT doc_id, source, shuffle_key, bucket,
         |  CAST(row_number() OVER (PARTITION BY bucket
         |    ORDER BY shuffle_key, doc_id) AS INT) AS pos
         |FROM b ORDER BY bucket, pos""".stripMargin
    })

  /** Sequence packing (ops.Sampling.packSequences): pack docs into
    * 500-token shards per source, then concatenate each shard's docs in
    * id order and cut fixed 64-token training sequences across document
    * boundaries, ragged tail emitted short. The oracle replays the shard
    * cumsum, the order-deterministic concatenation (DuckDB `list(...
    * ORDER BY doc_id)` + flatten) and the slicing. */
  private val qPackSequences = QueryDef(
    "q_pack_sequences",
    (s, dir) => {
      import s.implicits._
      val packed = ops.Sampling.packShards(
        t(s, dir, "documents").where($"doc_id" < 200)
          .select($"doc_id", $"source", $"text"),
        "doc_id", "source",
        size(split($"text", " ")).cast("bigint"), budget = 500)
      ops.Sampling.packSequences(
          packed.withColumn("toks", split($"text", " ")),
          "doc_id", Seq("source", "shard"), $"toks", seqLen = 64)
        .select($"source", $"shard", $"seq",
          md5(array_join($"toks", " ")).as("h"), $"n_toks")
        .orderBy($"source", $"shard", $"seq")
    },
    Some("""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
           |  FROM documents WHERE doc_id < 200),
           |p AS (SELECT doc_id, source, w,
           |    CAST(coalesce(sum(CAST(len(w) AS BIGINT))
           |      OVER (PARTITION BY source ORDER BY doc_id
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 500 AS INT) AS shard
           |  FROM d),
           |f AS (SELECT source, shard, flatten(list(w ORDER BY doc_id)) AS flat
           |  FROM p GROUP BY source, shard),
           |s AS (SELECT source, shard, CAST(i AS INT) AS seq,
           |    flat[i*64+1 : i*64+64] AS toks
           |  FROM (SELECT source, shard, flat,
           |          unnest(range(0, ((len(flat)-1)//64) + 1)) AS i FROM f)
           |  WHERE len(flat) > 0)
           |SELECT source, shard, seq, md5(array_to_string(toks, ' ')) AS h,
           |  CAST(len(toks) AS INT) AS n_toks
           |FROM s ORDER BY source, shard, seq""".stripMargin))

  /** Sequence packing WITH document boundaries
    * (ops.Sampling.packSequencesWithBounds): each packed sequence carries
    * a doc_ids array aligned 1:1 with its tokens — what a loader needs to
    * build the cross-document attention mask. Oracle replays the shard
    * cumsum, BOTH flats (tokens and repeated ids), and the slicing. */
  private val qPackBounds = QueryDef(
    "q_pack_bounds",
    (s, dir) => {
      import s.implicits._
      val packed = ops.Sampling.packShards(
        t(s, dir, "documents").where($"doc_id" < 200)
          .select($"doc_id", $"source", $"text"),
        "doc_id", "source",
        size(split($"text", " ")).cast("bigint"), budget = 500)
      ops.Sampling.packSequencesWithBounds(
          packed.withColumn("toks", split($"text", " ")),
          "doc_id", Seq("source", "shard"), $"toks", seqLen = 64)
        .select($"source", $"shard", $"seq",
          md5(array_join($"toks", " ")).as("h"),
          md5(array_join($"doc_ids".cast("array<string>"), " ")).as("hd"),
          $"n_toks")
        .orderBy($"source", $"shard", $"seq")
    },
    Some("""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
           |  FROM documents WHERE doc_id < 200),
           |p AS (SELECT doc_id, source, w,
           |    CAST(coalesce(sum(CAST(len(w) AS BIGINT))
           |      OVER (PARTITION BY source ORDER BY doc_id
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 500 AS INT) AS shard
           |  FROM d),
           |f AS (SELECT source, shard, flatten(list(w ORDER BY doc_id)) AS flat,
           |    flatten(list(list_transform(range(len(w)), x -> doc_id)
           |      ORDER BY doc_id)) AS ids
           |  FROM p GROUP BY source, shard),
           |s AS (SELECT source, shard, CAST(i AS INT) AS seq,
           |    flat[i*64+1 : i*64+64] AS toks,
           |    ids[i*64+1 : i*64+64] AS dids
           |  FROM (SELECT source, shard, flat, ids,
           |          unnest(range(0, ((len(flat)-1)//64) + 1)) AS i FROM f)
           |  WHERE len(flat) > 0)
           |SELECT source, shard, seq, md5(array_to_string(toks, ' ')) AS h,
           |  md5(array_to_string(dids, ' ')) AS hd,
           |  CAST(len(toks) AS INT) AS n_toks
           |FROM s ORDER BY source, shard, seq""".stripMargin))

  /** Leakage-safe train/eval split (ops.Sampling.splitByCluster): planted
    * near-dup chains {i, i+20, i+40} must land in ONE split (members
    * inherit the component minimum's hash draw); unpaired docs draw on
    * their own id. Oracle replays the recursive component resolution and
    * the portable 60-bit hash split. */
  private val qSplitCluster = QueryDef(
    "q_split_cluster",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 60)
        .select($"doc_id", $"source")
      val pairs = base.where($"doc_id" < 10)
        .select($"doc_id".as("id_a"), ($"doc_id" + 20).as("id_b"))
        .union(base.where($"doc_id" < 10)
          .select(($"doc_id" + 20).as("id_a"), ($"doc_id" + 40).as("id_b")))
      ops.Sampling.splitByCluster(base, pairs, "doc_id", testBp = 3000)
        .orderBy($"doc_id")
    },
    Some {
      val h = ops.Sampling.hashBpSql(
        "CAST(coalesce(c.rep, d.doc_id) AS VARCHAR) || 'split'")
      s"""WITH RECURSIVE docs AS (SELECT doc_id, source FROM documents
         |    WHERE doc_id < 60),
         |pairs AS (SELECT doc_id AS id_a, doc_id + 20 AS id_b
         |    FROM documents WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id + 20, doc_id + 40 FROM documents WHERE doc_id < 10),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs)),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
         |c AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
         |SELECT d.doc_id, d.source,
         |  CASE WHEN $h < 3000 THEN 'test' ELSE 'train' END AS split
         |FROM docs d LEFT JOIN c ON c.id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin
    })

  /** Blocklist filtering (ops.Cleaning): drop blocked sources (broadcast
    * anti-join) then gate on blockword content fraction — the C4-style
    * badlist stage. Sources src3/src7 are blocked; the blockword list
    * reuses common corpus words so the gate actually fires. */
  private val qBlocklist = QueryDef(
    "q_blocklist",
    (s, dir) => {
      import s.implicits._
      val blockwords = Seq("slow", "spam")
      val blockedSrc = Seq("src3", "src7").toDF("source")
      val kept = ops.Cleaning.filterBlockedDomains(
        t(s, dir, "documents").select($"doc_id", $"source", $"text"),
        "source", blockedSrc)
        .withColumn("w", ops.Cleaning.wordsOf($"text"))
        .withColumn("bw", ops.Cleaning.blockwordFracQ4($"w", blockwords))
      kept.where($"bw" <= 400)
        .select($"doc_id", $"source", $"bw")
        .orderBy($"doc_id")
    },
    Some("""WITH kept AS (SELECT doc_id, source, string_split(text, ' ') AS w
           |  FROM documents WHERE source NOT IN ('src3', 'src7')),
           |g AS (SELECT doc_id, source,
           |    CAST(floor(CAST(len(list_filter(w, x -> list_contains(['slow','spam'], x))) AS DOUBLE)
           |      / CAST(len(w) AS DOUBLE) * 10000) AS INT) AS bw
           |  FROM kept)
           |SELECT doc_id, source, bw FROM g WHERE bw <= 400
           |ORDER BY doc_id""".stripMargin))

  /** Context-window chunking (ops.Cleaning.chunkWindows): 16-word windows
    * with 4-word overlap (stride 12), exploded to one row per chunk —
    * the long-document → training-sequence split. */
  private val qChunkWindows = QueryDef(
    "q_chunk_windows",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 150)
        .withColumn("w", ops.Cleaning.wordsOf($"text"))
        .select($"doc_id",
          posexplode(ops.Cleaning.chunkWindows($"w", 16, 4)).as(Seq("pos", "c")))
        .select($"doc_id", $"c.idx".as("idx"),
          size(split($"c.chunk", " ")).cast("int").as("n_tok"),
          md5($"c.chunk").as("sig"))
        .orderBy($"doc_id", $"idx")
    },
    Some("""WITH ww AS (SELECT doc_id, string_split(text, ' ') AS w
           |  FROM documents WHERE doc_id < 150),
           |ch AS (SELECT doc_id, CAST(i AS INT) AS idx,
           |    array_to_string(w[i*12+1 : i*12+16], ' ') AS chunk
           |  FROM (SELECT doc_id, w,
           |          unnest(range(0, greatest(0, (len(w) - 16 + 11)//12) + 1)) AS i
           |        FROM ww))
           |SELECT doc_id, idx,
           |  CAST(len(string_split(chunk, ' ')) AS INT) AS n_tok,
           |  md5(chunk) AS sig
           |FROM ch ORDER BY doc_id, idx""".stripMargin))

  /** BPE-TOKEN chunking (ops.Cleaning.chunkBpeWindows): context windows
    * measured in the SAME unit the shard packer budgets — the document's
    * BPE token array under the shared merge table, windowed 24-wide every
    * 18 (overlap 6). The oracle replays the merge chain (mergedSql), the
    * boundary-filtered token split, and the window slicing in SQL. */
  private val qChunkBpe = QueryDef(
    "q_chunk_bpe",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .where($"doc_id" < 120)
        .select($"doc_id",
          posexplode(ops.Cleaning.chunkBpeWindows($"text", ops.Bpe.DemoMerges, 24, 6))
            .as(Seq("pos", "c")))
        .select($"doc_id", $"c.idx".as("idx"),
          size($"c.toks").cast("int").as("n_tok"),
          md5(array_join($"c.toks", " ")).as("sig"))
        .orderBy($"doc_id", $"idx")
    },
    Some(s"""WITH m AS (SELECT doc_id,
            |    ${ops.Bpe.mergedSql("text", ops.Bpe.DemoMerges)} AS merged
            |  FROM documents WHERE doc_id < 120),
            |tk AS (SELECT doc_id,
            |    list_filter(string_split(ltrim(merged), ' '),
            |      s -> s <> chr(1) AND s <> '') AS toks FROM m),
            |ch AS (SELECT doc_id, CAST(i AS INT) AS idx,
            |    toks[i*18+1 : i*18+24] AS c
            |  FROM (SELECT doc_id, toks,
            |          unnest(range(0, greatest(0, (len(toks) - 24 + 17)//18) + 1)) AS i
            |        FROM tk))
            |SELECT doc_id, idx, CAST(len(c) AS INT) AS n_tok,
            |  md5(array_to_string(c, ' ')) AS sig
            |FROM ch ORDER BY doc_id, idx""".stripMargin))

  /** Corpus profile — the per-source report a data engineer runs before
    * training: doc/token/quality mass, language-ID distribution, and the
    * worst repetition score per source, all integer-exact compositions of
    * the text/cleaning operators. */
  private val qCleanProfile = QueryDef(
    "q_clean_profile",
    (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .withColumn("w", ops.Cleaning.wordsOf($"text"))
        .select($"source",
          ops.TextStats.tokenCount($"text").cast("long").as("tok"),
          ops.TextStats.qualityScore($"text").cast("long").as("q"),
          ops.TextStats.langId($"text").as("pred"),
          ops.Cleaning.topWordFracQ4($"w").as("tw"))
        .groupBy($"source")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum($"tok").cast("bigint").as("sum_tokens"),
          sum($"q").cast("bigint").as("sum_quality"),
          sum(when($"pred" === "en", 1).otherwise(0)).cast("bigint").as("n_en"),
          max($"tw").cast("int").as("max_topword_q4"))
        .orderBy($"source")
    },
    Some {
      val stops = Classify.Stopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
      val profs = ops.TextStats.trigramProfiles
      // score COLUMNS computed once per row in their own CTE; the argmax
      // CASE compares plain ints (inlining the trigram scan into every
      // comparison would re-run it ~50× per row in DuckDB)
      val scoreCols = profs.map { case (n, p) =>
        s"${ops.TextStats.trigramScoreSql("text", p)} AS s_$n" }.mkString(",\n    ")
      s"""WITH ww AS (SELECT source, text, string_split(text, ' ') AS w FROM documents),
         |sc AS (SELECT source, w,
         |    $scoreCols
         |  FROM ww),
         |per AS (SELECT source,
         |    CAST(len(w) AS BIGINT) AS tok,
         |    CAST(4*len(w) + 3*len(list_filter(w, x -> list_contains([$stops], x))) AS BIGINT) AS q,
         |    ${ops.TextStats.langIdCaseSql(n => s"s_$n")} AS pred,
         |    CAST(floor(CAST(list_max(list_transform(list_distinct(w),
         |        x -> len(list_filter(w, y -> y = x)))) AS DOUBLE)
         |      / CAST(len(w) AS DOUBLE) * 10000) AS INT) AS tw
         |  FROM sc)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS sum_tokens,
         |  CAST(sum(q) AS BIGINT) AS sum_quality,
         |  CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  CAST(max(tw) AS INT) AS max_topword_q4
         |FROM per GROUP BY source ORDER BY source""".stripMargin
    })

  /** Hashing-trick document embedding (ops.Embed.hashEmbed): 16-dim signed
    * integer vectors, checksummed per doc (nonzeros, L1 mass, md5 of the
    * exact vector) — the feature-hash recipe is shared verbatim with the
    * oracle via Embed.bsSql/vecSql. */
  private val qHashEmbed = QueryDef(
    "q_hash_embed",
    (s, dir) => {
      import s.implicits._
      ops.Embed.hashEmbed(
          t(s, dir, "documents").where($"doc_id" < 200).select($"doc_id", $"text"),
          "text", 16)
        .select($"doc_id",
          expr("size(filter(vec, v -> v <> 0))").cast("int").as("nnz"),
          expr("aggregate(vec, 0, (a, v) -> a + abs(v))").cast("int").as("l1"),
          md5(concat_ws(",", expr("transform(vec, v -> cast(v as string))"))).as("h"))
        .orderBy($"doc_id")
    },
    Some {
      val vec = ops.Embed.vecSql(ops.Embed.bsSql("text", 16), 16)
      s"""WITH e AS (SELECT doc_id, $vec AS vec
         |  FROM documents WHERE doc_id < 200)
         |SELECT doc_id,
         |  CAST(len(list_filter(vec, v -> v <> 0)) AS INT) AS nnz,
         |  CAST(list_sum(list_transform(vec, v -> abs(v))) AS INT) AS l1,
         |  md5(array_to_string(list_transform(vec, v -> CAST(v AS VARCHAR)), ',')) AS h
         |FROM e ORDER BY doc_id""".stripMargin
    })

  // ------------------------------------------------------------------
  // Training-data pipeline: multimodal plumbing (binary columns)
  // ------------------------------------------------------------------

  /** Planted binary payloads (hex) exercising the magic-number sniffer —
    * one per detected format plus a RIFF-unknown and a no-magic fallback.
    * SINGLE SOURCE OF TRUTH for both the Spark query and the SQL oracle
    * (the oracle replays the prefix rules over these hex strings). */
  private val PlantedMedia: Seq[(Long, String)] = Seq(
    // PNG 64×48: signature + IHDR (width/height parsed from REAL bytes)
    100001L -> "89504E470D0A1A0A0000000D494844520000004000000030080600000011223344",
    100002L -> "FFD8FFE000104A4649460001",             // JPEG SOI+APP0
    100003L -> "4749463839614001C800F7000000",         // GIF89a 320×200 (LE)
    100004L -> "52494646240800005741564520666D7420",   // RIFF/WAVE
    100005L -> "52494646C8000000415649204C495354",     // RIFF/AVI
    100006L -> "255044462D312E340A25E2E3CFD3",         // %PDF-1.4
    100007L -> "504B03041400000008",                   // ZIP local header
    100008L -> "524946460000000058595A20",             // RIFF, unknown subtype
    100009L -> "0102030405",                           // no magic → fallback
    // full JPEG header chain: SOI + APP0/JFIF (16-byte segment) + SOF0
    // carrying REAL dims 320×240 — exercises the marker-stream walk
    100010L -> ("FFD8" + "FFE000104A46494600010100000100010000" +
      "FFC000110800F0014003012200021101031101"),
    // fill bytes (0xFF padding, spec B.1.1.2) before SOF0 with dims 200x100
    100011L -> ("FFD8" + "FFFF" + "FFC000110800640"
      + "0C803012200021101031101"))

  /** Multimodal metadata through the REAL decoder (ops.Media.MediaDecoder):
    * magic-number format sniffing over planted JPEG/PNG/GIF/RIFF/PDF/ZIP
    * headers (PNG/GIF dims parsed from actual header bytes) plus the
    * deterministic fallback triage for the text payloads; the oracle
    * replays the same prefix rules over the shared hex constants. */
  private val qMediaMeta = QueryDef(
    "q_media_meta",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").where($"doc_id" < 200)
        .select($"doc_id", encode(substring($"text", 1, 64), "utf-8").as("payload"))
      val planted = PlantedMedia.toDF("doc_id", "hx")
        .select($"doc_id", unhex($"hx").as("payload"))
      ops.Media.decodeMeta(s, docs.union(planted)).toDF()
        .select($"doc_id",
          $"n_bytes".cast("bigint").as("n_bytes"), $"format",
          $"width".cast("bigint").as("width"), $"height".cast("bigint").as("height"))
        .orderBy($"doc_id")
    },
    Some {
      val vals = PlantedMedia.map { case (id, hx) => s"($id, '$hx')" }.mkString(", ")
      s"""WITH RECURSIVE txt AS (
         |  SELECT doc_id, CAST(octet_length(encode(substr(text, 1, 64))) AS BIGINT) AS n,
         |    CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS b0
         |  FROM documents WHERE doc_id < 200),
         |tm AS (SELECT doc_id, n AS n_bytes,
         |    CASE b0 % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'aud' ELSE 'vid' END AS format,
         |    32 + n % 64 AS width, 32 + b0 % 48 AS height FROM txt),
         |pl(doc_id, hx) AS (VALUES $vals),
         |ph AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, hx,
         |    CAST(octet_length(unhex(hx)) AS BIGINT) AS n,
         |    ('0x' || substr(hx, 1, 2))::BIGINT AS b0 FROM pl),
         |-- JPEG marker-stream walk (replay of MediaDecoder.jpegDims): byte
         |-- index i starts after SOI; standalone markers advance 2, others
         |-- by 2 + segment length; stop at the first SOF0/1/2
         |jw(doc_id, hx, i) AS (
         |  SELECT doc_id, hx, 2 FROM ph WHERE hx LIKE 'FFD8FF%'
         |  UNION ALL
         |  -- 'FF' second byte = fill padding (JPEG B.1.1.2): advance 1
         |  SELECT doc_id, hx,
         |    CASE WHEN substr(hx, 2*i+3, 2) = 'FF' THEN i + 1
         |         WHEN substr(hx, 2*i+3, 2) = '01'
         |           OR substr(hx, 2*i+3, 2) BETWEEN 'D0' AND 'D9'
         |         THEN i + 2
         |         ELSE i + 2 + ('0x' || substr(hx, 2*i+5, 4))::INT END
         |  FROM jw
         |  WHERE substr(hx, 2*i+1, 2) = 'FF'
         |    AND substr(hx, 2*i+3, 2) NOT IN ('C0','C1','C2')
         |    AND (substr(hx, 2*i+3, 2) = 'FF'
         |         OR substr(hx, 2*i+3, 2) = '01'
         |         OR substr(hx, 2*i+3, 2) BETWEEN 'D0' AND 'D9'
         |         OR 2*(i+4) <= length(hx))),
         |jdim AS (
         |  SELECT doc_id,
         |    ('0x' || substr(hx, 2*i+15, 4))::BIGINT AS jw_px,
         |    ('0x' || substr(hx, 2*i+11, 4))::BIGINT AS jh_px
         |  FROM jw
         |  WHERE substr(hx, 2*i+1, 2) = 'FF'
         |    AND substr(hx, 2*i+3, 2) IN ('C0','C1','C2')
         |    AND 2*(i+9) <= length(hx)),
         |pm AS (SELECT doc_id, n AS n_bytes,
         |    CASE WHEN hx LIKE 'FFD8FF%' THEN 'jpeg'
         |         WHEN hx LIKE '89504E470D0A1A0A%' AND n >= 24 THEN 'png'
         |         WHEN hx LIKE '47494638%' AND n >= 10 THEN 'gif'
         |         WHEN hx LIKE '52494646%' AND n >= 12 THEN
         |           CASE substr(hx, 17, 8) WHEN '57415645' THEN 'wav'
         |                WHEN '41564920' THEN 'avi' ELSE 'riff' END
         |         WHEN hx LIKE '25504446%' THEN 'pdf'
         |         WHEN hx LIKE '504B0304%' THEN 'zip'
         |         ELSE CASE b0 % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'aud' ELSE 'vid' END
         |    END AS format,
         |    CASE WHEN hx LIKE 'FFD8FF%'
         |           THEN coalesce(jw_px, 32 + n % 64)
         |         WHEN hx LIKE '89504E470D0A1A0A%' AND n >= 24
         |           THEN ('0x' || substr(hx, 33, 8))::BIGINT
         |         WHEN hx LIKE '47494638%' AND n >= 10
         |           THEN ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2))::BIGINT
         |         ELSE 32 + n % 64 END AS width,
         |    CASE WHEN hx LIKE 'FFD8FF%'
         |           THEN coalesce(jh_px, 32 + b0 % 48)
         |         WHEN hx LIKE '89504E470D0A1A0A%' AND n >= 24
         |           THEN ('0x' || substr(hx, 41, 8))::BIGINT
         |         WHEN hx LIKE '47494638%' AND n >= 10
         |           THEN ('0x' || substr(hx, 19, 2) || substr(hx, 17, 2))::BIGINT
         |         ELSE 32 + b0 % 48 END AS height
         |  FROM ph LEFT JOIN jdim USING (doc_id))
         |SELECT doc_id, n_bytes, format, width, height FROM tm
         |UNION ALL SELECT doc_id, n_bytes, format, width, height FROM pm
         |ORDER BY doc_id""".stripMargin
    })

  /** Byte-level feature extraction over binary payloads (ops.Media
    * .extractFeatures — REAL computation, no codec): 16-bin byte histogram
    * + zero-run count per payload; the oracle recomputes the bins from the
    * same bytes character-wise (payload is ASCII text in the sandbox).
    * Entropy stays OUT of the cross-engine compare (log2 ulp differences
    * could flip the integer quantization); it is bounds-tested in OpsSpec. */
  private val qMediaFeatures = QueryDef(
    "q_media_features",
    (s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents").where($"doc_id" < 200).select($"doc_id", $"text")
      ops.Media.extractFeatures(s, ops.Media.withPayload(docs, "text")).toDF()
        .select($"doc_id", $"n_bytes",
          element_at($"hist", 3).as("b2"),   // 0x20 space
          element_at($"hist", 7).as("b6"),   // 0x60-0x6f letters
          element_at($"hist", 8).as("b7"),   // 0x70-0x7f letters
          $"zero_runs")
        .orderBy($"doc_id")
    },
    Some("""WITH p AS (SELECT doc_id, substr(text, 1, 64) AS pl
           |           FROM documents WHERE doc_id < 200),
           |ch AS (SELECT doc_id, ascii(substr(pl, i + 1, 1)) // 16 AS bin
           |       FROM (SELECT doc_id, pl, unnest(range(length(pl))) AS i FROM p))
           |SELECT p.doc_id, CAST(octet_length(encode(pl)) AS INT) AS n_bytes,
           |  CAST(coalesce(sum(CASE WHEN bin = 2 THEN 1 END), 0) AS BIGINT) AS b2,
           |  CAST(coalesce(sum(CASE WHEN bin = 6 THEN 1 END), 0) AS BIGINT) AS b6,
           |  CAST(coalesce(sum(CASE WHEN bin = 7 THEN 1 END), 0) AS BIGINT) AS b7,
           |  0 AS zero_runs
           |FROM p LEFT JOIN ch ON ch.doc_id = p.doc_id
           |GROUP BY p.doc_id, pl ORDER BY p.doc_id""".stripMargin))

  /** Binary near-dup (ops.Media.binaryNearDupPairs): MinHash-LSH over
    * BYTE shingles of an opaque payload column — the media analog of text
    * near-dup, codec-free. Planted truncated copies (the 60-byte prefix of
    * each 64-byte payload — byte-shingle Jaccard ≈ 0.93) must surface;
    * the oracle replays hex-rendered byte shingles, the 8-value salted
    * signature, 4-band candidate join and exact shingle-set Jaccard. */
  private val qMediaNearDup = QueryDef(
    "q_media_neardup",
    (s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").where($"doc_id" < 40)
        .select($"doc_id", $"text")
      val corpus = base
        .select($"doc_id", encode(substring($"text", 1, 64), "utf-8").as("payload"))
        .union(base.select(($"doc_id" + 1000).as("doc_id"),
          encode(substring($"text", 1, 60), "utf-8").as("payload")))
      ops.Media.binaryNearDupPairs(corpus, "doc_id", "payload",
          n = 4, k = 8, bands = 4, threshold = 0.5)
        .select($"id_a", $"id_b", round($"jaccard", 4).as("jaccard"))
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH base AS (SELECT doc_id, substr(text, 1, 64) AS pl
           |              FROM documents WHERE doc_id < 40),
           |corpus AS (SELECT doc_id, pl FROM base
           |           UNION ALL SELECT doc_id + 1000, substr(pl, 1, 60) FROM base),
           |hx AS (SELECT doc_id, hex(pl) AS h FROM corpus),
           |sh AS (SELECT doc_id, substr(h, 2*i + 1, 8) AS shingle
           |       FROM (SELECT doc_id, h, unnest(range(len(h)//2 - 3)) AS i
           |             FROM hx WHERE len(h) >= 8)),
           |sig AS (SELECT doc_id,
           |  min(md5('0:' || shingle)) AS s0, min(md5('1:' || shingle)) AS s1,
           |  min(md5('2:' || shingle)) AS s2, min(md5('3:' || shingle)) AS s3,
           |  min(md5('4:' || shingle)) AS s4, min(md5('5:' || shingle)) AS s5,
           |  min(md5('6:' || shingle)) AS s6, min(md5('7:' || shingle)) AS s7
           |  FROM sh GROUP BY doc_id),
           |banded AS (
           |  SELECT doc_id, 0 AS band, md5(s0 || '|' || s1) AS bandhash FROM sig
           |  UNION ALL SELECT doc_id, 1, md5(s2 || '|' || s3) FROM sig
           |  UNION ALL SELECT doc_id, 2, md5(s4 || '|' || s5) FROM sig
           |  UNION ALL SELECT doc_id, 3, md5(s6 || '|' || s7) FROM sig),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |  FROM banded x JOIN banded y
           |    ON x.band = y.band AND x.bandhash = y.bandhash AND x.doc_id < y.doc_id),
           |sets AS (SELECT doc_id, list_distinct(list_transform(
           |    range(len(h)//2 - 3), i -> substr(h, 2*i + 1, 8))) AS sset
           |  FROM hx WHERE len(h) >= 8),
           |j AS (SELECT id_a, id_b,
           |    len(list_intersect(sa.sset, sb.sset)) AS inter,
           |    len(list_distinct(list_concat(sa.sset, sb.sset))) AS uni
           |  FROM cand JOIN sets sa ON sa.doc_id = id_a
           |            JOIN sets sb ON sb.doc_id = id_b)
           |SELECT id_a, id_b, round(CAST(inter AS DOUBLE) / uni, 4) AS jaccard
           |FROM j WHERE CAST(inter AS DOUBLE) / uni >= 0.5
           |ORDER BY id_a, id_b""".stripMargin))

  // ------------------------------------------------------------------
  // Extraction pipeline queries — FULL DuckDB oracles (round 2): the
  // generated corpus is staged once per JVM to a fixed absolute path so
  // the oracle reads the IDENTICAL parquet bytes, and the entire
  // classifier spec (registry dispatch, keep rules, variant-run islands,
  // canonicalization, dense renumbering, confidence) is replayed in ANSI
  // SQL (gaps-and-islands windows + regexes). Three independent
  // implementations now agree: ExtractExpression (Spark),
  // ReferenceOracle (sbt test), and this SQL (driver gate).
  // ------------------------------------------------------------------

  private val CorpusDocs = 5000L
  /** Fixed absolute staging root — baked into the oracle SQL strings, so it
    * must not depend on the driver's outDir. The default carries a
    * per-process token: two JVMs staging concurrently (e.g. Verify and
    * Bench) must never race overwrite-vs-read on one directory. The oracle
    * SQL emitted by THIS JVM references THIS JVM's staging dir, so the
    * driver's DuckDB replay always reads the parquet bytes this process
    * wrote. Set GRAFT_CORPUS_DIR to pin a shared dir (single-process runs
    * only). */
  // LAZY: referenced during object init by QueryDef oracles defined ABOVE
  // this line (a strict val would interpolate as "null" there — Scala
  // object vals initialize in declaration order)
  private[graft] lazy val corpusDir: String =
    sys.env.getOrElse("GRAFT_CORPUS_DIR",
      sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/") +
        s"/graft_corpus_v3_${ProcessHandle.current().pid()}")
  private val corpusPath = s"$corpusDir/docs"

  /** Stage the deterministic corpus (seed=42, 5000 docs) once per JVM. */
  private def stagedCorpus(s: SparkSession): DataFrame = Queries.synchronized {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$corpusPath/_SUCCESS")))
      DocGen.generate(s, CorpusDocs).toDF().repartition(4)
        .write.mode("overwrite").parquet(corpusPath)
    s.read.parquet(corpusPath)
  }

  /** First 200 staged docs (doc_id is fixed-width, so string < is numeric <). */
  private val SmallDocMax = "d0000000200"
  private val SmallDocFilter = s"doc_id < '$SmallDocMax'"

  /** The classifier replayed as DuckDB CTEs over the staged corpus.
    * Mirrors plans.ExtractExpression / graft.ReferenceOracle — keep the
    * three in sync. Produces CTEs:
    *  - `corpus`  (doc_id, bucket, spans)
    *  - `ndoc`    per-doc raw span count
    *  - `drule`   per-doc extractor (ordered first-match dispatch)
    *  - `outp`    kept spans with dense pos (the extraction output)
    *  - `docstat` per-doc (bucket, n_raw, kept)
    */
  private def classifierCtes(docWhere: String, gfyCanonSuffix: String = ""): String = {
    // optional canonical-template EDIT for the backfill replay: appended
    // verbatim to the gfyclip canonical (empty = the shipped template, and
    // the emitted SQL stays byte-identical to the pre-parameter form)
    val gfySfx = if (gfyCanonSuffix.isEmpty) "" else s" || '$gfyCanonSuffix'"
    val stops = Classify.Stopwords.toSeq.sorted.map("'" + _ + "'").mkString(",")
    // Registry.rules patterns with numbered instead of named groups
    // (gfyclip: 1=id 2=ext; chanboard: 1=board 2=tim 3=ext;
    //  albumhost: 1=album 2=item 3=ext)
    val gfy = """https?://media\.gfyclip\.test/([A-Za-z][A-Za-z0-9]*)\.(mp4|webm|gif)"""
    val chan = """https?://img\.chanboard\.test/([a-z]+)/([0-9]+)\.([a-z0-9]+)"""
    val alb = """https?://i\.albumhost\.test/([a-z0-9]+)/([0-9]+)\.([a-z0-9]+)"""
    val qCase = "CASE ext " + Registry.qualityOf.toSeq.sorted
      .map { case (e, q) => s"WHEN '$e' THEN $q" }.mkString(" ") + " ELSE 10 END"
    s"""corpus AS (
       |  SELECT doc_id, bucket, spans FROM read_parquet('$corpusPath/*.parquet') $docWhere),
       |ndoc AS (SELECT doc_id, bucket, len(spans) AS n_raw FROM corpus),
       |raw AS (SELECT doc_id, bucket, unnest(spans, recursive := true) FROM corpus),
       |ord AS (
       |  SELECT doc_id, bucket, kind, text, media_ref,
       |    row_number() OVER w AS pos_in,
       |    lag(kind) OVER w AS prev_kind,
       |    lead(kind) OVER w AS next_kind
       |  FROM raw WINDOW w AS (PARTITION BY doc_id ORDER BY "offset")),
       |feat AS (
       |  SELECT *,
       |    len(list_filter(string_split(text, ' '), w -> w <> '')) AS words,
       |    len(list_filter(string_split(text, ' '), w -> list_contains([$stops], w))) AS stops,
       |    CASE WHEN kind = 'media' AND regexp_full_match(media_ref, '$gfy') THEN 'gfyclip'
       |         WHEN kind = 'media' AND regexp_full_match(media_ref, '$chan') THEN 'chanboard'
       |         WHEN kind = 'media' AND regexp_full_match(media_ref, '$alb') THEN 'albumhost'
       |         END AS rule
       |  FROM ord),
       |med AS (
       |  SELECT *,
       |    CASE rule WHEN 'gfyclip' THEN 'g:' || regexp_extract(media_ref, '$gfy', 1)
       |              WHEN 'chanboard' THEN 'c:' || regexp_extract(media_ref, '$chan', 1) ||
       |                '/' || regexp_extract(media_ref, '$chan', 2)
       |              WHEN 'albumhost' THEN 'l:' || regexp_extract(media_ref, '$alb', 1) ||
       |                '/' || regexp_extract(media_ref, '$alb', 2) END AS grpkey,
       |    CASE rule WHEN 'gfyclip' THEN regexp_extract(media_ref, '$gfy', 2)
       |              WHEN 'chanboard' THEN regexp_extract(media_ref, '$chan', 3)
       |              WHEN 'albumhost' THEN regexp_extract(media_ref, '$alb', 3) END AS ext
       |  FROM feat),
       |flags AS (
       |  SELECT *,
       |    CASE WHEN kind = 'media' AND (rule IS NULL
       |         OR lag(kind) OVER w IS DISTINCT FROM 'media'
       |         OR lag(rule) OVER w IS NULL
       |         OR lag(grpkey) OVER w IS DISTINCT FROM grpkey) THEN 1 ELSE 0 END AS newgrp
       |  FROM med WINDOW w AS (PARTITION BY doc_id ORDER BY pos_in)),
       |grp AS (
       |  SELECT *, sum(newgrp) OVER (PARTITION BY doc_id ORDER BY pos_in
       |    ROWS UNBOUNDED PRECEDING) AS island FROM flags),
       |isl AS (
       |  SELECT doc_id, bucket, island, pos_in, text, rule, media_ref,
       |    $qCase AS q
       |  FROM grp WHERE kind = 'media' AND rule IS NOT NULL),
       |best AS (
       |  SELECT doc_id, bucket, island,
       |    min(pos_in) AS head_pos,
       |    first(text ORDER BY pos_in) AS head_text,
       |    first(rule ORDER BY q DESC, pos_in) AS best_rule,
       |    first(media_ref ORDER BY q DESC, pos_in) AS best_ref
       |  FROM isl GROUP BY doc_id, bucket, island),
       |kept AS (
       |  SELECT doc_id, bucket, pos_in AS at, 'title' AS kind, text, '' AS media_ref
       |  FROM grp WHERE kind = 'title'
       |  UNION ALL
       |  SELECT doc_id, bucket, pos_in, 'text', text, '' FROM grp
       |  WHERE kind = 'text' AND (words >= 5 OR (words >= 3 AND stops >= 1)
       |    OR ((prev_kind = 'title' OR next_kind = 'title') AND words >= 2))
       |  UNION ALL
       |  SELECT doc_id, bucket, pos_in, 'text', text, '' FROM grp
       |  WHERE kind = 'link' AND words >= 8
       |  UNION ALL
       |  SELECT doc_id, bucket, pos_in, 'media', text, media_ref FROM grp
       |  WHERE kind = 'media' AND rule IS NULL AND media_ref <> ''
       |  UNION ALL
       |  SELECT doc_id, bucket, head_pos, 'media', head_text,
       |    CASE best_rule
       |      WHEN 'gfyclip' THEN 'https://gfyclip.test/' || regexp_extract(best_ref, '$gfy', 1)$gfySfx
       |      WHEN 'chanboard' THEN 'https://chanboard.test/' || regexp_extract(best_ref, '$chan', 1) ||
       |        '/' || regexp_extract(best_ref, '$chan', 2) ||
       |        '.' || regexp_extract(best_ref, '$chan', 3)
       |      ELSE 'https://albumhost.test/' || regexp_extract(best_ref, '$alb', 1) ||
       |        '/' || regexp_extract(best_ref, '$alb', 2) END
       |  FROM best),
       |outp AS (
       |  SELECT doc_id, bucket, kind, text, media_ref,
       |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY at) - 1 AS INT) AS pos
       |  FROM kept),
       |kcount AS (SELECT doc_id, count(*) AS kept FROM outp GROUP BY doc_id),
       |docstat AS (
       |  SELECT d.doc_id, d.bucket, d.n_raw, coalesce(k.kept, 0) AS kept
       |  FROM ndoc d LEFT JOIN kcount k USING (doc_id)),
       |drule AS (
       |  SELECT n.doc_id, coalesce(r.extractor, 'textonly') AS extractor
       |  FROM ndoc n LEFT JOIN (
       |    SELECT doc_id,
       |      CASE WHEN count(*) FILTER (WHERE rule = 'gfyclip') > 0 THEN 'gfyclip'
       |           WHEN count(*) FILTER (WHERE rule = 'chanboard') > 0 THEN 'chanboard'
       |           WHEN count(*) FILTER (WHERE rule = 'albumhost') > 0 THEN 'albumhost'
       |           WHEN count(*) FILTER (WHERE kind = 'media' AND media_ref <> '') > 0 THEN 'generic'
       |           ELSE 'textonly' END AS extractor
       |    FROM feat GROUP BY doc_id) r USING (doc_id))""".stripMargin
  }

  /** Staged JSONL dump of the first 200 corpus docs (interchange format). */
  private val jsonlPath = s"$corpusDir/docs_jsonl"
  private val jsonlQPath = s"$corpusDir/docs_jsonl_q"
  private def stagedJsonl(s: SparkSession): String = Queries.synchronized {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$jsonlPath/_SUCCESS")))
      Sources.toJsonl(stagedCorpus(s).where(col("doc_id") < SmallDocMax), jsonlPath)
    jsonlPath
  }

  /** Planted malformed JSONL lines and the reason the quarantine ingest
    * must assign — ONE constant feeds the staged bad file (Spark input)
    * and the oracle's expected-quarantine VALUES (DuckDB side). */
  private[graft] val BadJsonlLines: Seq[(String, String)] = Seq(
    ("""{"doc_id": "xbad1", "domain": "x.example", "spans": [""", "corrupt"),
    ("not json at all", "corrupt"),
    ("\"just a string\"", "corrupt"),
    ("""{"doc_id":"xbad3","domain":"x.example"}""", "missing_field"),
    ("""{"domain":"y.example","spans":[]}""", "missing_field"))

  /** Staged dump CONTAINING bad lines: the clean jsonl plus one extra
    * part file of planted malformed lines. */
  private def stagedJsonlQ(s: SparkSession): String = Queries.synchronized {
    val done = java.nio.file.Paths.get(s"$jsonlQPath/_STAGED")
    if (!java.nio.file.Files.exists(done)) {
      Sources.toJsonl(stagedCorpus(s).where(col("doc_id") < SmallDocMax), jsonlQPath)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$jsonlQPath/bad-lines.txt"),
        BadJsonlLines.map(_._1).mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.write(done, Array.emptyByteArray)
    }
    jsonlQPath
  }

  /** Quarantine ingest (ops robustness): PERMISSIVE parse of a dump with
    * planted malformed lines — good rows aggregate per bucket EXACTLY as
    * the FAILFAST path does on the clean dump; bad lines surface verbatim
    * with a reason. The oracle replays the good side via read_json
    * ignore_errors + null-field filter and the quarantine side from the
    * shared planted constant. */
  private val qSourceQuarantine = QueryDef(
    "q_source_quarantine",
    (s, _) => {
      import s.implicits._
      val path = stagedJsonlQ(s)
      val (good, quarantine) = Sources.fromJsonlQuarantine(s, path)
      good.groupBy($"bucket")
        .agg(count("*").as("n"), sum(size($"spans")).as("spans"))
        .select(lit("good").as("kind"),
          $"bucket".cast("string").as("key"), $"n", $"spans")
        .unionByName(quarantine
          .select(lit("quarantine").as("kind"),
            concat($"reason", lit("|"), $"raw").as("key"),
            lit(1L).as("n"), lit(0L).as("spans")))
        .orderBy($"kind", $"key")
    },
    Some {
      val vals = BadJsonlLines
        .map { case (l, r) => s"('$r|' || '${l.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH d AS (SELECT doc_id, domain, spans,
         |    CAST(('0x' || substr(md5(doc_id), 1, 6))::BIGINT % ${DocGen.NumBuckets} AS INT) AS bucket
         |  FROM read_json('$jsonlQPath/*.txt',
         |    format = 'newline_delimited', ignore_errors = true,
         |    columns = {doc_id: 'VARCHAR', domain: 'VARCHAR',
         |      spans: 'STRUCT(kind VARCHAR, "text" VARCHAR, media_ref VARCHAR, "offset" INTEGER)[]'})
         |  WHERE doc_id IS NOT NULL AND domain IS NOT NULL AND spans IS NOT NULL),
         |good AS (SELECT 'good' AS kind, CAST(bucket AS VARCHAR) AS key,
         |    CAST(count(*) AS BIGINT) AS n, CAST(sum(len(spans)) AS BIGINT) AS spans
         |  FROM d GROUP BY bucket),
         |quar AS (SELECT 'quarantine' AS kind, q.key, CAST(1 AS BIGINT) AS n,
         |    CAST(0 AS BIGINT) AS spans
         |  FROM (VALUES $vals) q(key))
         |SELECT kind, key, n, spans FROM good
         |UNION ALL SELECT kind, key, n, spans FROM quar
         |ORDER BY kind, key""".stripMargin
    })


  /** JSONL document ingestion (Sources.fromJsonl — qetch's JSON-API-payload
    * analog): declared schema, FAILFAST, portable md5-derived bucket; the
    * oracle reads the same files via DuckDB read_json. */
  private val qSourceJsonl = QueryDef(
    "q_source_jsonl",
    (s, _) => {
      import s.implicits._
      val path = stagedJsonl(s)
      Sources.fromJsonl(s, path)
        .groupBy($"bucket")
        .agg(count("*").as("docs"), sum(size($"spans")).as("spans"),
          countDistinct($"domain").as("domains"))
        .orderBy($"bucket")
    },
    Some(s"""WITH d AS (SELECT doc_id, domain, spans,
            |    CAST(('0x' || substr(md5(doc_id), 1, 6))::BIGINT % ${DocGen.NumBuckets} AS INT) AS bucket
            |  FROM read_json('$jsonlPath/*.txt',
            |    format = 'newline_delimited',
            |    columns = {doc_id: 'VARCHAR', domain: 'VARCHAR',
            |      spans: 'STRUCT(kind VARCHAR, "text" VARCHAR, media_ref VARCHAR, "offset" INTEGER)[]'}))
            |SELECT bucket, CAST(count(*) AS BIGINT) AS docs,
            |  CAST(sum(len(spans)) AS BIGINT) AS spans,
            |  CAST(count(DISTINCT domain) AS BIGINT) AS domains
            |FROM d GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Full extraction over the staged corpus (ExtractJob.transform, range
    * exchange + extract_spans): per-extractor rollup, oracle-checked end
    * to end. */
  private val qExtract = QueryDef(
    "q_extract_pipeline",
    (s, _) => {
      import s.implicits._
      val docs = stagedCorpus(s).as[RawDoc]
      ExtractJob.transform(docs).toDF()
        .select($"extractor", size($"spans").as("n_spans"))
        .groupBy($"extractor")
        .agg(count("*").as("docs"), sum($"n_spans").as("spans"))
        .orderBy($"extractor")
    },
    Some(s"""WITH ${classifierCtes("")}
            |SELECT extractor, CAST(count(*) AS BIGINT) AS docs,
            |  CAST(sum(kept) AS BIGINT) AS spans
            |FROM docstat JOIN drule USING (doc_id)
            |GROUP BY 1 ORDER BY extractor""".stripMargin))

  /** Per-doc extraction sample — every kept span of the first 200 staged
    * docs, span-for-span against the SQL classifier replay (order carried
    * by the dense out-span pos, not row order). */
  private val qExtractSpans = QueryDef(
    "q_extract_spans",
    (s, _) => {
      import s.implicits._
      val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
      ExtractJob.transform(docs).toDF()
        .select($"doc_id", posexplode($"spans").as(Seq("pos", "span")))
        .select($"doc_id", $"pos", $"span.kind", $"span.text", $"span.media_ref")
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")}
            |SELECT doc_id, pos, kind, text, media_ref FROM outp
            |ORDER BY doc_id, pos""".stripMargin))

  /** Extraction → layout end-to-end (the adapter the north rule's
    * "PDF/layout parse" stage plugs into the span pipeline with): real
    * extraction output spans are typeset into positioned blocks
    * (ops.Layout.blocksFromSpans — flow cumsum, 60-char lines, 6-line
    * columns) and the k-column reading-order pass must reproduce the
    * original span order (reading_pos == pos, which the oracle's
    * hash-compare enforces column-for-column). The oracle replays the
    * classifier CTEs, the flow/typeset integer algebra, the gap-clustered
    * column detection, and the order/region windows. */
  private val qExtractLayout = QueryDef(
    "q_extract_layout",
    (s, _) => {
      import s.implicits._
      val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
      val spans = ExtractJob.transform(docs).toDF()
        .select($"doc_id", posexplode($"spans").as(Seq("pos", "span")))
        .select($"doc_id", $"pos", $"span.kind".as("kind"), $"span.text".as("text"))
      val blocks = ops.Layout.blocksFromSpans(spans, "doc_id", "pos", "text",
        charsPerLine = 60, linesPerCol = 6, colWidth = 300, lineHeight = 10)
      ops.Layout.readingOrderK(blocks, "doc_id", k = 24, gapThreshold = 15,
          minGap = 120)
        .select($"doc_id", $"reading_pos", $"col_id", $"region_id",
          $"pos", $"kind", md5($"text").as("h"))
        .orderBy($"doc_id", $"reading_pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")},
            |flow AS (SELECT doc_id, pos, kind, text,
            |    coalesce(sum(length(text) + 1) OVER (PARTITION BY doc_id ORDER BY pos
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS fl
            |  FROM outp),
            |blk AS (SELECT doc_id, pos, kind, text,
            |    CAST(((fl // 60) // 6) * 300 + fl % 60 AS INT) AS x,
            |    CAST(((fl // 60) % 6) * 10 AS INT) AS y
            |  FROM flow),
            |dx AS (SELECT DISTINCT doc_id, x FROM blk),
            |gp AS (SELECT doc_id, x,
            |         x - lag(x) OVER (PARTITION BY doc_id ORDER BY x) AS gap FROM dx),
            |bnd AS (SELECT doc_id, x FROM (
            |    SELECT doc_id, x, row_number() OVER (
            |      PARTITION BY doc_id ORDER BY gap DESC, x) AS r
            |    FROM gp WHERE gap IS NOT NULL AND gap > 120) WHERE r <= 23),
            |cj AS (SELECT blk.doc_id, blk.pos, blk.kind, blk.text, blk.x, blk.y,
            |    CAST(count(bnd.x) FILTER (WHERE bnd.x <= blk.x) AS INT) AS col_id
            |  FROM blk LEFT JOIN bnd ON bnd.doc_id = blk.doc_id
            |  GROUP BY blk.doc_id, blk.pos, blk.kind, blk.text, blk.x, blk.y),
            |gw AS (SELECT *, CASE WHEN lag(y) OVER w IS NULL OR y - lag(y) OVER w > 15
            |                      THEN 1 ELSE 0 END AS gap
            |       FROM cj WINDOW w AS (PARTITION BY doc_id, col_id ORDER BY y, x)),
            |rw AS (SELECT *, sum(gap) OVER (PARTITION BY doc_id, col_id ORDER BY y, x
            |         ROWS UNBOUNDED PRECEDING) AS ric FROM gw)
            |SELECT doc_id,
            |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY col_id, y, x) - 1 AS INT) AS reading_pos,
            |  CAST(col_id AS INT) AS col_id,
            |  CAST(dense_rank() OVER (PARTITION BY doc_id ORDER BY col_id, ric) - 1 AS INT) AS region_id,
            |  CAST(pos AS INT) AS pos, kind, md5(text) AS h
            |FROM rw ORDER BY doc_id, reading_pos""".stripMargin))

  /** EXTRACTION → INTERLEAVED MULTIMODAL TRAINING SEQUENCES end-to-end:
    * real extraction output spans (exactly the input_hint span shape)
    * stream through ops.Sampling.interleavedStream — text spans
    * whitespace-tokenized, ONE '<|media|>' placeholder per media span,
    * refs aligned 1:1 under the placeholders — then pack into 300-token
    * shards per bucket and cut into 64-token sequences carrying toks +
    * doc_ids + media_refs (the interleaved image-text pretraining shape:
    * each sequence names the media its placeholders stand for). The
    * oracle replays the classifier CTEs, the per-doc interleaving in span
    * pos order, the shard cumsum, all THREE aligned flats, and the
    * slicing; NULL refs render as '.' on both sides because DuckDB's
    * array_to_string silently skips NULL elements. */
  private val qPackInterleaved = QueryDef(
    "q_pack_interleaved",
    (s, _) => {
      import s.implicits._
      val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
      val st = ops.Sampling.interleavedStream($"spans", t => split(t, " "))
      val docsTok = ExtractJob.transform(docs).toDF()
        .select($"doc_id", $"bucket", st.as("st"))
        .select($"doc_id", $"bucket", $"st.toks".as("toks"), $"st.refs".as("refs"))
      val packed = ops.Sampling.packShards(docsTok, "doc_id", "bucket",
        size($"toks").cast("bigint"), budget = 300)
      ops.Sampling.packSequencesInterleaved(packed, "doc_id",
          Seq("bucket", "shard"), $"toks", $"refs", seqLen = 64)
        .select($"bucket", $"shard", $"seq",
          md5(array_join($"toks", " ")).as("h"),
          md5(array_join($"doc_ids", " ")).as("hd"),
          md5(array_join($"media_refs", " ", ".")).as("hm"),
          $"n_toks", $"n_media")
        .orderBy($"bucket", $"shard", $"seq")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")},
            |tok AS (SELECT doc_id, bucket, pos,
            |    CASE WHEN kind = 'media' THEN ['<|media|>']
            |         ELSE string_split(text, ' ') END AS t,
            |    CASE WHEN kind = 'media' THEN [media_ref]
            |         ELSE list_transform(string_split(text, ' '),
            |                             x -> CAST(NULL AS VARCHAR)) END AS r
            |  FROM outp),
            |doc AS (SELECT doc_id, any_value(bucket) AS bucket,
            |    flatten(list(t ORDER BY pos)) AS toks,
            |    flatten(list(r ORDER BY pos)) AS refs
            |  FROM tok GROUP BY doc_id),
            |p AS (SELECT doc_id, bucket, toks, refs,
            |    CAST(coalesce(sum(CAST(len(toks) AS BIGINT)) OVER (PARTITION BY bucket
            |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            |      // 300 AS INT) AS shard
            |  FROM doc),
            |f AS (SELECT bucket, shard,
            |    flatten(list(toks ORDER BY doc_id)) AS flat,
            |    flatten(list(list_transform(range(len(toks)), x -> doc_id)
            |      ORDER BY doc_id)) AS ids,
            |    flatten(list(refs ORDER BY doc_id)) AS mr
            |  FROM p GROUP BY bucket, shard),
            |sq AS (SELECT bucket, shard, CAST(i AS INT) AS seq,
            |    flat[i*64+1 : i*64+64] AS toks,
            |    ids[i*64+1 : i*64+64] AS dids,
            |    mr[i*64+1 : i*64+64] AS mrefs
            |  FROM (SELECT bucket, shard, flat, ids, mr,
            |      unnest(range(0, ((len(flat)-1)//64) + 1)) AS i FROM f)
            |  WHERE len(flat) > 0)
            |SELECT CAST(bucket AS INT) AS bucket, shard, seq,
            |  md5(array_to_string(toks, ' ')) AS h,
            |  md5(array_to_string(dids, ' ')) AS hd,
            |  md5(array_to_string(list_transform(mrefs, x -> coalesce(x, '.')), ' ')) AS hm,
            |  CAST(len(toks) AS INT) AS n_toks,
            |  CAST(len(list_filter(mrefs, x -> x IS NOT NULL)) AS INT) AS n_media
            |FROM sq ORDER BY bucket, shard, seq""".stripMargin))

  /** EXTRACTION → CAPTION PAIRS (ops.Media.mediaTextPairs): the CLIP/LAION
    * image-text-pair shape mined from real extraction output — each media
    * span pairs with its adjacent text span (following preferred, else
    * preceding) when that neighbor's character length lies in [5, 120].
    * The oracle replays the classifier CTEs and the adjacency rule as
    * lag/lead windows over the dense span positions (pos == the
    * offset-sorted array index for extraction output). */
  private val qCaptionPairs = QueryDef(
    "q_caption_pairs",
    (s, _) => {
      import s.implicits._
      val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
      ops.Media.mediaTextPairs(ExtractJob.transform(docs).toDF(),
          Seq("doc_id", "bucket"), $"spans", minChars = 5, maxChars = 120)
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")},
            |nb AS (SELECT doc_id, bucket, pos, kind, media_ref,
            |    lag(kind) OVER w AS pk, lag(text) OVER w AS pt,
            |    lead(kind) OVER w AS nk, lead(text) OVER w AS nt
            |  FROM outp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
            |c AS (SELECT doc_id, CAST(bucket AS INT) AS bucket, media_ref,
            |    CAST(pos AS INT) AS pos,
            |    CASE WHEN nk = 'text' AND len(nt) BETWEEN 5 AND 120 THEN nt
            |         WHEN pk = 'text' AND len(pt) BETWEEN 5 AND 120 THEN pt
            |    END AS caption,
            |    CASE WHEN nk = 'text' AND len(nt) BETWEEN 5 AND 120 THEN 'after'
            |         WHEN pk = 'text' AND len(pt) BETWEEN 5 AND 120 THEN 'before'
            |    END AS side
            |  FROM nb WHERE kind = 'media')
            |SELECT * FROM c WHERE caption IS NOT NULL
            |ORDER BY doc_id, pos""".stripMargin))

  /** EXTRACTION → LINK-GRAPH PAGERANK (ops.Graph.pageRank): domain
    * authority propagated over the reference graph the extraction stage
    * emits — src = the document's domain, dst = the host of every kept
    * media ref (regexp host extraction, identical pattern both engines).
    * 5 damped power-iteration rounds with dangling-mass redistribution;
    * the oracle replays the classifier CTEs, the edge derivation, and the
    * UNROLLED iteration (ops.Graph.pageRankCtes — one generated recipe,
    * both engines' arithmetic in the same operation order). Ranks rounded
    * to 6 dp on both sides: summation order is the only divergence. */
  private val qPageRank = QueryDef(
    "q_pagerank",
    (s, _) => {
      import s.implicits._
      val docs = stagedCorpus(s).as[RawDoc]
      val edges = ExtractJob.transform(docs).toDF()
        .select($"domain", explode($"spans").as("span"))
        .where($"span.kind" === "media" && $"span.media_ref" =!= "")
        .select($"domain".as("src"),
          regexp_extract($"span.media_ref", "https?://([^/]+)/", 1).as("dst"))
        // regexp_extract's no-match sentinel is '' in BOTH engines (refs
        // with no path slash, relative refs): prune it or it becomes one
        // phantom node siphoning rank mass from every real host
        .where($"dst" =!= "")
      ops.Graph.pageRank(edges, "src", "dst", iters = 5)
        .select($"node", round($"rank", 6).as("rank"))
        .orderBy($"node")
    },
    Some(s"""WITH ${classifierCtes("")},
            |edges AS (SELECT d.domain AS src,
            |    regexp_extract(o.media_ref, 'https?://([^/]+)/', 1) AS dst
            |  FROM outp o JOIN (SELECT doc_id, domain
            |    FROM read_parquet('$corpusPath/*.parquet')) d USING (doc_id)
            |  WHERE o.kind = 'media' AND o.media_ref <> ''
            |    AND regexp_extract(o.media_ref, 'https?://([^/]+)/', 1) <> ''),
            |${ops.Graph.pageRankCtes(iters = 5, damping = 0.85)}
            |SELECT node, round(rank, 6) AS rank FROM pr
            |ORDER BY node""".stripMargin))

  /** Metrics side table of a real ExtractJob.run (write → manifest commit →
    * manifest-planned at-rest scan), oracled per bucket from the corpus. */
  private val qExtractMetrics = QueryDef(
    "q_extract_metrics",
    (s, _) => {
      import s.implicits._
      val out = s"$corpusDir/metrics_demo"
      Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(out))
        val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
        ExtractJob.run(s, docs, out, "verify", resume = false)
      }
      s.read.parquet(s"$out/metrics")
        .select($"bucket", $"docs", $"spans_in", $"spans_out")
        .orderBy($"bucket")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")},
            |agg AS (
            |  SELECT bucket, CAST(count(*) AS BIGINT) AS docs,
            |    CAST(sum(n_raw) AS BIGINT) AS spans_in,
            |    CAST(sum(kept) AS BIGINT) AS spans_out
            |  FROM docstat GROUP BY bucket)
            |SELECT CAST(b.bucket AS INT) AS bucket, coalesce(docs, 0) AS docs,
            |  coalesce(spans_in, 0) AS spans_in, coalesce(spans_out, 0) AS spans_out
            |FROM (SELECT unnest(range(${DocGen.NumBuckets})) AS bucket) b
            |LEFT JOIN agg USING (bucket) ORDER BY bucket""".stripMargin))

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  /** Selective rule-change backfill end-to-end (ExtractJob.backfill): base
    * extraction committed under the shipped registry, then the gfyclip
    * canonical template is EDITED and the backfill derives the affected
    * buckets from the diff's span-level footprint (old gfyclip canonicals
    * in the committed refs), rewrites ONLY those, and commits. The query
    * reads the post-backfill table through the manifest; the oracle is the
    * full SQL classifier replay under the EDITED template — hash equality
    * proves the selective rewrite converged to exactly the table a full
    * re-run under the new registry would produce (no stale rows, no loss,
    * no duplication, ordering intact). */
  private val qBackfillRules = QueryDef(
    "q_backfill_rules",
    (s, _) => {
      import s.implicits._
      val out = s"$corpusDir/backfill_demo"
      Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(out))
        val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
        ExtractJob.run(s, docs, out, "base", resume = false)
        val edited = Registry.rules.map(r =>
          if (r.name == "gfyclip") r.copy(canonical = r.canonical + "?rev=2") else r)
        ExtractJob.backfill(s, docs, out, "bf-edit", newRules = edited)
      }
      new Manifest(out, s.sessionState.newHadoopConf()).readData(s)
        .select($"doc_id", posexplode($"spans").as(Seq("pos", "span")))
        .select($"doc_id", $"pos", $"span.kind", $"span.text", $"span.media_ref")
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter", gfyCanonSuffix = "?rev=2")}
            |SELECT doc_id, pos, kind, text, media_ref FROM outp
            |ORDER BY doc_id, pos""".stripMargin))

  /** Copy-on-write delete end-to-end (ExtractJob.deleteByKey — the
    * right-to-be-forgotten primitive): base extraction committed, then
    * every doc whose id ends in '7' is deleted by key and the query reads
    * the post-delete table through the manifest. The oracle is the full
    * SQL classifier replay minus exactly the doomed ids — hash equality
    * proves the bucket-scoped rewrite removed the doomed rows and ONLY
    * the doomed rows (no collateral loss, no duplication, ordering
    * intact across the rewritten buckets). */
  private val qDeleteCow = QueryDef(
    "q_delete_cow",
    (s, _) => {
      import s.implicits._
      val out = s"$corpusDir/delete_demo"
      Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(out))
        val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
        ExtractJob.run(s, docs, out, "pre-del", resume = false)
        val doomed = stagedCorpus(s)
          .where($"doc_id" < SmallDocMax && $"doc_id".endsWith("7"))
          .select($"doc_id")
        ExtractJob.deleteByKey(s, out, doomed, "doc_id")
      }
      new Manifest(out, s.sessionState.newHadoopConf()).readData(s)
        .select($"doc_id", posexplode($"spans").as(Seq("pos", "span")))
        .select($"doc_id", $"pos", $"span.kind", $"span.text", $"span.media_ref")
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")}
            |SELECT doc_id, pos, kind, text, media_ref FROM outp
            |WHERE doc_id NOT LIKE '%7'
            |ORDER BY doc_id, pos""".stripMargin))

  /** Incremental read end-to-end (Manifest.readAppended — Iceberg's
    * incremental append scan): two indexed-corpus admission batches land
    * as manifest commits, and a downstream consumer that checkpointed
    * the first snapshot id reads the window between the two — the
    * file-set difference must deliver EXACTLY batch 2's admissions, no
    * re-delivery of batch 1, no leakage of the dropped re-crawls or the
    * index bucket's rows. Texts are per-doc unique word sequences
    * (pairwise Jaccard 0), so the admission decision replays in SQL as
    * plain exact-text set difference — the minhash replay itself is
    * q_dedup_incremental / q_reshard_corpus territory. */
  private val qReadAppended = QueryDef(
    "q_read_appended",
    (s, dir) => {
      import s.implicits._
      def utext(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        (0 until 12).map(j => concat(lit("u"), idc, lit(s"w$j"))): _*)
      val base = t(s, dir, "documents").select($"doc_id")
      val w1 = base.where($"doc_id" < 40)
        .select($"doc_id", utext($"doc_id").as("text"))
      val w2 = base.where($"doc_id" < 20)
        .select(($"doc_id" + 3000).as("doc_id"), utext($"doc_id").as("text"))
        .union(base.where($"doc_id" >= 40 && $"doc_id" < 50)
          .select($"doc_id", utext($"doc_id").as("text")))
      val tbl = s"$corpusDir/appended_demo"
      val (aId, hId) = Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(tbl))
        streaming.EventStream.admitIndexedBatch(w1, 0L, tbl, "q-app",
          "doc_id", "text", 0.7, 8, 4, corpusBuckets = 1)
        val m = new Manifest(tbl, s.sessionState.newHadoopConf())
        val a = m.head().get.id
        streaming.EventStream.admitIndexedBatch(w2, 1L, tbl, "q-app",
          "doc_id", "text", 0.7, 8, 4, corpusBuckets = 1)
        (a, m.head().get.id)
      }
      new Manifest(tbl, s.sessionState.newHadoopConf())
        .readAppended(s, aId, Some(hId),
          buckets = Some(Set(streaming.EventStream.CorpusBucket)))
        .select($"doc_id", $"text").orderBy($"doc_id")
    },
    Some {
      val ut = (0 until 12).map(j => s"'u' || CAST(doc_id AS VARCHAR) || 'w$j'")
        .mkString(" || ' ' || ")
      s"""WITH w1 AS (SELECT doc_id, $ut AS text FROM documents WHERE doc_id < 40),
         |w2 AS (SELECT doc_id + 3000 AS doc_id, text FROM
         |         (SELECT doc_id, $ut AS text FROM documents WHERE doc_id < 20)
         |       UNION ALL
         |       SELECT doc_id, $ut AS text FROM documents
         |       WHERE doc_id >= 40 AND doc_id < 50)
         |SELECT doc_id, text FROM w2
         |WHERE md5(text) NOT IN (SELECT md5(text) FROM w1)
         |ORDER BY doc_id""".stripMargin
    })

  /** Write-audit-publish end-to-end (ExtractJob.runGated — Iceberg's WAP
    * pattern): a gated run whose audit REJECTS (an unreachable row floor)
    * publishes nothing, then a second gated run with a real quality audit
    * (every doc must keep ≥ 1 span and carry a dense offset ramp) passes
    * and publishes. The query reads HEAD; the oracle is the classifier
    * replay — hash equality proves the rejected attempt leaked nothing
    * and the published table equals an ungated run exactly. */
  private val qExtractGated = QueryDef(
    "q_extract_gated",
    (s, _) => {
      import s.implicits._
      val out = s"$corpusDir/wap_demo"
      Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(out))
        val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
        val r1 = ExtractJob.runGated(s, docs, out, "wap-reject",
          audit = df => df.count() >= 1000000000L, resume = false)
        require(r1.isEmpty, "the impossible row floor must reject")
        // same two predicates as before, folded into ONE aggregation pass
        // (a span-less doc count and a negative-offset count) — the audit
        // decision is identical, at one job instead of two
        val r2 = ExtractJob.runGated(s, docs, out, "wap-pass",
          audit = df => {
            val r = df.agg(
              coalesce(sum(when(size($"spans") < 1, 1L).otherwise(0L)), lit(0L)),
              coalesce(sum(size(filter($"spans", sp => sp.getField("offset") < 0))
                .cast("long")), lit(0L))).head()
            r.getLong(0) == 0L && r.getLong(1) == 0L
          },
          resume = false)
        require(r2.nonEmpty, "the quality audit must publish")
      }
      new Manifest(out, s.sessionState.newHadoopConf()).readData(s)
        .select($"doc_id", posexplode($"spans").as(Seq("pos", "span")))
        .select($"doc_id", $"pos", $"span.kind", $"span.text", $"span.media_ref")
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")}
            |SELECT doc_id, pos, kind, text, media_ref FROM outp
            |ORDER BY doc_id, pos""".stripMargin))

  /** Snapshot rollback end-to-end (Manifest.rollback — the Iceberg
    * rollback_to_snapshot analog): base extraction committed, a bad
    * delete lands (every id ending in '3'), then rollback reverts the
    * table to the pre-delete snapshot with a FORWARD commit and the
    * query reads HEAD through the manifest. The oracle is the full
    * unfiltered classifier replay — hash equality proves the rollback
    * restored every deleted row byte-for-byte (spans, ordering, refs)
    * and invented nothing. */
  private val qRollback = QueryDef(
    "q_rollback",
    (s, _) => {
      import s.implicits._
      val out = s"$corpusDir/rollback_demo"
      Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(out))
        val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
        val s0 = ExtractJob.run(s, docs, out, "pre-rb", resume = false)
        val doomed = stagedCorpus(s)
          .where($"doc_id" < SmallDocMax && $"doc_id".endsWith("3"))
          .select($"doc_id")
        ExtractJob.deleteByKey(s, out, doomed, "doc_id")
        new Manifest(out, s.sessionState.newHadoopConf()).rollback(s0.id)
      }
      new Manifest(out, s.sessionState.newHadoopConf()).readData(s)
        .select($"doc_id", posexplode($"spans").as(Seq("pos", "span")))
        .select($"doc_id", $"pos", $"span.kind", $"span.text", $"span.media_ref")
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")}
            |SELECT doc_id, pos, kind, text, media_ref FROM outp
            |ORDER BY doc_id, pos""".stripMargin))

  /** Zone-map ranged read end-to-end (Manifest.readData(idRange) — the
    * Iceberg min/max data-skipping analog): base extraction committed
    * across many small files (each a tight contiguous doc_id slice), then
    * the query reads ONLY the manifest-planned files whose footer-derived
    * id range overlaps [lo, hi] and applies the row predicate on top
    * (pruning plans a superset; the predicate closes it). The oracle is
    * the full SQL classifier replay filtered to the same range — hash
    * equality proves the pruned scan loses no row inside the range and
    * admits none outside it. */
  private val qScanZonemap = QueryDef(
    "q_scan_zonemap",
    (s, _) => {
      import s.implicits._
      val out = s"$corpusDir/zonemap_demo"
      Queries.synchronized {
        deleteRecursively(java.nio.file.Paths.get(out))
        val docs = stagedCorpus(s).where($"doc_id" < SmallDocMax).as[RawDoc]
        ExtractJob.run(s, docs, out, "zm", resume = false, numPartitions = 24)
      }
      val (lo, hi) = ("d0000000050", "d0000000149")
      new Manifest(out, s.sessionState.newHadoopConf())
        .readData(s, idRange = Some((lo, hi)))
        .where($"doc_id".between(lo, hi))
        .select($"doc_id", posexplode($"spans").as(Seq("pos", "span")))
        .select($"doc_id", $"pos", $"span.kind", $"span.text", $"span.media_ref")
        .orderBy($"doc_id", $"pos")
    },
    Some(s"""WITH ${classifierCtes(s"WHERE $SmallDocFilter")}
            |SELECT doc_id, pos, kind, text, media_ref FROM outp
            |WHERE doc_id BETWEEN 'd0000000050' AND 'd0000000149'
            |ORDER BY doc_id, pos""".stripMargin))

  /** Full extraction through the NATIVE expression (plans.ExtractExpression)
    * over the staged corpus — same oracle family; confidence surfaces as a
    * per-doc integer quantization (floor(conf·10⁴)) summed per extractor so
    * the compare stays exact (no cross-engine float aggregation). */
  private val qExtractNative = QueryDef(
    "q_extract_native",
    (s, _) => {
      import s.implicits._
      val docs = stagedCorpus(s)
      plans.GraftFunctions.extractColumnar(docs)
        .groupBy($"extractor")
        .agg(count("*").as("docs"), sum(size($"spans")).as("spans"),
          sum(floor($"confidence" * 10000).cast("long")).as("conf_q4"))
        .orderBy($"extractor")
    },
    Some(s"""WITH ${classifierCtes("")}
            |SELECT extractor, CAST(count(*) AS BIGINT) AS docs,
            |  CAST(sum(kept) AS BIGINT) AS spans,
            |  CAST(sum(CAST(floor((CAST(kept AS DOUBLE) / CAST(n_raw AS DOUBLE)) * 10000) AS BIGINT)) AS BIGINT) AS conf_q4
            |FROM docstat JOIN drule USING (doc_id)
            |GROUP BY 1 ORDER BY extractor""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    qDispatch, qFilter, qRollup, qWindow, qJoin, qTopK, qAnti, qSemi,
    qJson, qTime, qExplode, qReassembly, qDistinct, qApproxDistinct, qCube,
    qExcept, qScalar, qApproxQuantile,
    qSalted, qSaltedJoin, qSkewDetect, qCmsHeavy, qReassembleGroupBy, qSessionize, qAuthGate,
    qDedupExact, qMinhash, qSimhash, qJaccard, qDedupResolve, qDedupCorpusQ, qDedupCapped,
    qDedupBest, qDedupIncremental, qDedupIndexQ, qReshardCorpus, qSubstrDedup, qUrlCanon, qTextNormalize,
    qLmTrain, qLmScore, qLmBackoff, qLmBuckets,
    qNbTrain, qNbClassify, qDsir, qBm25, qRrfFuse,
    qCorpusPipeline,
    qFingerprint,
    qLshPairs, qSimhashPairs, qSrpBuckets, qEmbedMultiprobe, qEmbedIvf,
    qEmbedIvfIndex, qEmbedIndexStream, qEmbedPq,
    qSemanticDedup, qSemanticDecon, qProtoPrune,
    qLayoutOrder, qLayoutKcol, qExtractLayout,
    qEmbedNearDup, qSubword, qMediaFrames, qEmbedTopK, qLangId, qLangIdBulk,
    qLangIdTrain, qQuality,
    qTokenRegex, qTokens, qBpe, qBpeStats, qBpeRoundtrip, qVocabOov,
    qRepetition, qNgramStats, qGopherQuality, qC4Rules, qPiiRedact, qDecontaminate, qDecontaminateBloom, qLineDedup,
    qLineDomain, qLineDedupDoc,
    qMixtureSample, qMixtureEpochs, qMixtureTemperature, qTokenPack, qZorder,
    qShuffleOrder,
    qPackSequences, qPackBounds,
    qPackInterleaved, qCaptionPairs, qPageRank,
    qSplitCluster, qHashEmbed, qCleanProfile, qChunkWindows,
    qChunkBpe,
    qBlocklist,
    qMediaMeta, qMediaFeatures, qMediaNearDup,
    qSourceJsonl, qSourceQuarantine, qExtract, qExtractSpans, qExtractMetrics,
    qBackfillRules, qDeleteCow, qRollback, qScanZonemap, qExtractGated,
    qReadAppended, qExtractNative)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
