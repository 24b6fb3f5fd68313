package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Link-graph suite: ops.Graph.pageRank against an independent plain-Scala
  * power iteration (same update rule, driver-side maps — zero Spark), plus
  * the structural invariants (mass conservation with dangling nodes, hub
  * dominance, determinism, salt-free replay across partitionings). */
class GraphSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Reference power iteration over adjacency maps — the oracle. */
  private def refPageRank(edges: Seq[(String, String)], iters: Int,
      d: Double = 0.85): Map[String, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val out = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    (0 until iters).foreach { _ =>
      val dm = nodes.filterNot(out.contains).map(r).sum
      val contrib = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      out.foreach { case (s, dsts) =>
        dsts.foreach(t => contrib(t) += r(s) / dsts.size)
      }
      r = nodes.map(v => v -> ((1.0 - d) / n + d * (contrib(v) + dm / n))).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String)], iters: Int,
      parts: Int = 4): Map[String, Double] =
    ops.Graph.pageRank(edges.toDF("s", "t").repartition(parts), "s", "t", iters)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  test("pageRank matches the plain-Scala power iteration on a cyclic graph") {
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "d" -> "a", "d" -> "c")
    val got = run(edges, 8)
    val want = refPageRank(edges, 8)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"$k: $v vs ${want(k)}")
    }
  }

  test("dangling nodes donate their mass: sum of ranks stays 1") {
    // b and d have no out-edges — without redistribution the sum decays
    val edges = Seq("a" -> "b", "a" -> "d", "c" -> "b", "c" -> "a")
    val got = run(edges, 10)
    val total = got.values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"mass must be conserved, got $total")
    val want = refPageRank(edges, 10)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12) }
  }

  test("a hub every node links to outranks the spokes") {
    val spokes = (1 to 9).map(i => s"s$i" -> "hub")
    // hub links back to one spoke so it is not dangling
    val got = run(spokes :+ ("hub" -> "s1"), 6)
    val hub = got("hub")
    (2 to 9).foreach(i => assert(hub > got(s"s$i") * 3,
      s"hub $hub vs s$i ${got(s"s$i")}"))
  }

  test("result is invariant to input partitioning and duplicate edges") {
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val a = run(edges, 5, parts = 1)
    val b = run(edges ++ edges ++ edges, 5, parts = 7) // dup edges dedupe
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("null endpoints are pruned, iters=0 returns the uniform prior") {
    val df = Seq(("a", "b"), ("a", null), (null, "b"), ("b", "a"))
      .toDF("s", "t")
    val got = ops.Graph.pageRank(df, "s", "t", iters = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 0.5, "b" -> 0.5))
  }

  test("the only cartesian in the plan is the 1-row dangling broadcast") {
    // under Pin.lineage pageRank returns the COMPOSED plan (no pin
    // truncation), so this asserts the real per-iteration join shapes —
    // a checkpointed result would reduce to a cached-block scan and pass
    // vacuously no matter what the iteration did
    val df = Seq(("a", "b"), ("b", "a")).toDF("s", "t")
    val plan = Pin.lineage { ops.Graph.pageRank(df, "s", "t", iters = 1)
      .queryExecution.executedPlan.toString }
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly ONE nested-loop join: the broadcast of the 1-row dangling
    // aggregate. The rank/contribution joins must all be hash equi-joins.
    val nlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(nlj == 1, s"expected exactly 1 dangling broadcast NLJ, got $nlj:\n$plan")
    // and both plan variants agree on the numbers
    val a = ops.Graph.pageRank(df, "s", "t", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = Pin.lineage { ops.Graph.pageRank(df, "s", "t", iters = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap }
    assert(a == b)
  }
}
