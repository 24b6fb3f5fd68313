package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Pin

/** Link-graph operators — the quality-propagation stage a web-scale corpus
  * pipeline runs between extraction and filtering. The canonical instance
  * is domain authority à la PageRank (Brin & Page 1998; Page et al. 1999):
  * CommonCrawl-derived corpora use the host-graph ranks as a pretraining
  * quality prior (which domains to trust, crawl, or upsample), and the
  * extraction stage already produces the edges — every kept media/link
  * span names the host the document vouches for.
  *
  * Reference scope: qetch consumes single URLs and has no graph stage;
  * this belongs to the "operations a large-scale training-data pipeline
  * needs" mandate (SURVEY §2C), composing on extraction output the way
  * the layout and interleaved-packing adapters do. */
object Graph {

  /** PageRank over an edge relation: `iters` power-iteration rounds of
    *
    *   r' = (1-d)/n + d * ( Σ_{in-edges} r/outdeg  +  danglingMass/n )
    *
    * — the damped random surfer with the classic dangling-mass
    * redistribution (nodes with no out-edges donate their rank uniformly,
    * keeping Σr = 1 every round).
    *
    * Everything stays DataFrame-side:
    *  - the edge set is null-pruned, deduped (unweighted classic form) and
    *    pinned ONCE together with its out-degrees, so the
    *    per-iteration plans never re-run the — possibly expensive,
    *    e.g. extraction-derived — upstream lineage;
    *  - each round is ONE data-scale shuffle: edges equi-joined to the
    *    node-sized rank relation on src, partial-agg summed per dst; the
    *    dangling mass is a 1-ROW aggregate cross-joined back (a broadcast
    *    of one row — not a data-scale cartesian);
    *  - ranks live as a (node, rank) relation between rounds, pinned
    *    lazily through [[graft.Pin.Rounds]]: one job forces the pending
    *    rounds every [[graft.Pin.K]] rounds and the superseded ones are
    *    released, so at most K + 1 rank copies are pinned at once.
    *    The relation is NODE-count-sized (hosts/domains, not documents),
    *    and never transits the driver; the only driver action is one
    *    count() for the scalar n.
    *
    * At 100 TB: the host graph of a trillion-document crawl is ~10⁸ nodes
    * / ~10¹⁰ edges — the edge join shuffles on src and the contribution
    * agg on dst, both partial-agg shaped with AQE-eligible skew (a hot
    * host is a hot REDUCE key with a one-row output, which map-side
    * combine absorbs); pre-bucketing edges by src makes the join
    * exchange-free across iterations.
    *
    * Returns (node, rank) with Σrank ≈ 1, deterministic up to
    * floating-point summation order — round for cross-engine compares
    * (see [[pageRankCtes]], the generated DuckDB twin). The returned frame
    * is its own pin; every other pin (edges, nodes, degrees, superseded
    * ranks) is released before returning, so repeated calls
    * (per-crawl-increment ranking) keep one pinned copy each.
    *
    * Host-extraction callers: prune the empty-string no-match sentinel
    * from regexp-derived edges first, or it becomes a phantom node
    * absorbing rank mass. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1,
      s"damping must be in (0,1), got $damping")
    val e = Pin(edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val nodes = Pin(e.select(col("src").as("node"))
      .union(e.select(col("dst")))
      .distinct())
    val deg = Pin(e.groupBy("src")
      .agg(count(lit(1)).cast("double").as("__od")))
    val n = nodes.count().toDouble
    val rounds = new Pin.Rounds
    var ranks = rounds.next(nodes.withColumn("rank", lit(if (n == 0) 0.0 else 1.0 / n)))
    (0 until (if (n == 0) 0 else iters)).foreach { _ =>
      val share = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("src"), (col("rank") / col("__od")).as("__sh"))
      val contrib = e.join(share, "src")
        .groupBy(col("dst").as("node")).agg(sum(col("__sh")).as("__c"))
      val dangling = ranks.join(deg, ranks("node") === deg("src"), "left_anti")
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      ranks = rounds.next(nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("__c"), lit(0.0)) + col("__dm") / n)).as("rank")))
    }
    rounds.done(e, nodes, deg)
    ranks
  }

  /** DuckDB twin of [[pageRank]]: the power iteration UNROLLED as a
    * generated CTE chain over a caller-provided `edges(src, dst)` CTE —
    * one recipe emits both engines' arithmetic in the same operation
    * order ((1-d)/n, d*(c + dm/n)), so the only cross-engine divergence
    * is summation order (round the final rank on both sides). Append
    * after the caller's WITH list; the final relation is `pr(node, rank)`.
    *
    * Every reused CTE is MATERIALIZED: each round references the previous
    * rank relation twice (contribution + dangling mass), and DuckDB
    * inlines plain CTEs per reference — without materialization the
    * unrolled chain re-expands the whole upstream (e.g. the classifier
    * replay) 2^iters times and OOMs the planner. */
  def pageRankCtes(iters: Int, damping: Double): String = {
    val d = damping
    val head =
      s"""pe AS MATERIALIZED (SELECT DISTINCT src, dst FROM edges
         |  WHERE src IS NOT NULL AND dst IS NOT NULL),
         |pnodes AS MATERIALIZED (
         |  SELECT src AS node FROM pe UNION SELECT dst FROM pe),
         |pn AS MATERIALIZED (
         |  SELECT CAST(count(*) AS DOUBLE) AS n FROM pnodes),
         |pdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS od
         |  FROM pe GROUP BY src),
         |pr0 AS MATERIALIZED (
         |  SELECT node, 1.0 / pn.n AS rank FROM pnodes CROSS JOIN pn)"""
        .stripMargin
    val rounds = (1 to iters).map { i =>
      val p = s"pr${i - 1}"
      s"""pc$i AS (SELECT pe.dst AS node, sum(r.rank / pdeg.od) AS c
         |  FROM pe JOIN $p r ON r.node = pe.src
         |  JOIN pdeg ON pdeg.src = pe.src
         |  GROUP BY pe.dst),
         |pd$i AS (SELECT coalesce(sum(rank), 0) AS dm FROM $p
         |  WHERE node NOT IN (SELECT src FROM pdeg)),
         |pr$i AS MATERIALIZED (SELECT pnodes.node,
         |    (1 - $d) / pn.n + $d * (coalesce(pc$i.c, 0) + pd$i.dm / pn.n)
         |      AS rank
         |  FROM pnodes CROSS JOIN pn CROSS JOIN pd$i
         |  LEFT JOIN pc$i ON pc$i.node = pnodes.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s",\npr AS (SELECT node, rank FROM pr$iters)"
  }
}
