package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** PageRank tests: exact tiny-graph fixpoints vs a driver-side reference
  * loop, dangling-mass conservation, and the fixture-graph invariants.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Reference PageRank: same formula, plain Scala maps. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val out = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val dMass = nodes.filterNot(out.contains).map(r).sum
      val contrib = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(id =>
        id -> ((1 - d) + d * (contrib.getOrElse(id, 0.0) + dMass / n))).toMap
    }
    r
  }

  test("pageRank matches the reference loop on a cycle-plus-tail graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), iters = 5)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    val want = refRanks(edges, 5, 0.85)
    assert(got.keySet === want.keySet)
    got.foreach { case (id, r) => assert(math.abs(r - want(id)) < 1e-12, s"node $id") }
  }

  test("pageRank conserves total mass with a dangling node") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iters = 1)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    // dMass = rank(2) = 1: rank(1) = 0.15 + 0.85*(0 + 1/2), rank(2) gets
    // the inbound edge plus the same redistributed half
    assert(math.abs(got(1L) - 0.575) < 1e-12)
    assert(math.abs(got(2L) - 1.425) < 1e-12)
    assert(math.abs(got.values.sum - 2.0) < 1e-12)
  }

  test("driver and distributed paths agree on the fixture graph") {
    val edges = ExtensionQueries.coPurchaseEdges(spark, "/root/testdata/sf0.001")
    val fast = Graph.pageRank(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = Graph.pageRank(edges, iters = 3, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.keySet === dist.keySet)
    // same formula, different float accumulation order -> tolerance, not ==
    fast.foreach { case (id, r) => assert(math.abs(r - dist(id)) < 1e-9, s"node $id") }
  }

  test("fixture co-purchase graph: mass conserved, teleport floor held") {
    val ranks = Graph.pageRank(
      ExtensionQueries.coPurchaseEdges(spark, "/root/testdata/sf0.001"), iters = 4)
    val r = ranks.agg(count(lit(1)), sum(col("rank")), min(col("rank"))).collect()(0)
    val n = r.getLong(0)
    assert(n > 0)
    assert(math.abs(r.getDouble(1) - n) / n < 1e-9)
    assert(r.getDouble(2) >= 0.15 - 1e-9)
  }

  // a graph where dangling mass matters: 4 and 5 have no out-edges and
  // different in-flows, so a wrong dangling fold shows up in every rank
  private val danglingEdges =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (3L, 5L), (2L, 5L))

  test("distributed path matches the reference loop with dangling nodes") {
    val want = refRanks(danglingEdges, 6, 0.85)
    val got = Graph.pageRank(danglingEdges.toDF("src", "dst"), iters = 6,
        driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (id, r) => assert(math.abs(r - want(id)) < 1e-9, s"node $id") }
  }

  /** Collects (funcName, executedPlan) for every tracked Dataset action. */
  private def withActionLog[T](body: => T)
      : (T, Seq[(String, org.apache.spark.sql.execution.SparkPlan)]) = {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.SparkPlan)]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        log.add((funcName, qe.executedPlan))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = body
      // the listener bus is async: drain it so every action is logged
      org.apache.spark.GraftSparkTestBridge.drainListenerBus(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (r, log.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  test("one action per iteration: no per-round driver collect for dangling mass") {
    val iters = 5
    val (_, actions) = withActionLog {
      Graph.pageRank(danglingEdges.toDF("src", "dst"), iters = iters,
        driverMaxEdges = 0L).count()
    }
    val names = actions.map(_._1)
    // the old shape ran a `collect` action per round for the dangling
    // aggregate; the observed-metric fold leaves NO collect actions at all
    assert(!names.exists(_.toLowerCase.contains("collect")),
      s"driver collect action fired: $names")
    // exactly one eager checkpoint per iteration, plus the rank init
    val ckpts = names.count(_.toLowerCase.contains("checkpoint"))
    assert(ckpts === iters + 1, s"checkpoint actions: $ckpts in $names")
  }

  /** Flattens an executed plan through AQE stages and exchange reuse. */
  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: flatten(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: flatten(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      p +: flatten(r.child)
    case _ => p +: p.children.flatMap(flatten)
  }

  test("shuffle regime: the persisted edge layout is never re-shuffled per round") {
    val edges = ExtensionQueries.coPurchaseEdges(spark, "/root/testdata/sf0.001")
    val (_, actions) = withActionLog {
      Graph.pageRank(edges, iters = 3, driverMaxEdges = 0L).count()
    }
    // iteration plans are the checkpoints that join the bare 2-col edge
    // cache (the 1/outdeg weight folds in on the |V|-sized rank side)
    def isEdgeScan(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.output.map(_.name).toSet == Set("src", "dst")
      case _ => false
    }
    val iterPlans = actions.collect {
      case (fn, plan) if fn.toLowerCase.contains("checkpoint")
          && flatten(plan).exists(isEdgeScan) => plan
    }
    assert(iterPlans.nonEmpty, s"no iteration plans captured: ${actions.map(_._1)}")
    // "directly above" = reachable from a node through UNARY operators
    // only: an exchange above the contribution JOIN (the |V|-sized partial
    // aggregate shuffle) is expected; an exchange or sort on the unary
    // path over the edge scan means the stationary |E| layout is being
    // re-laid-out every round
    def reachesEdgeScanDirect(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case s if isEdgeScan(s) => true
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          reachesEdgeScanDirect(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          reachesEdgeScanDirect(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          reachesEdgeScanDirect(r.child)
        case j if j.children.size > 1 => false
        case other => other.children.exists(reachesEdgeScanDirect)
      }
    for (plan <- iterPlans) {
      val reshuffled = flatten(plan).exists {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          reachesEdgeScanDirect(ex.child)
        case _ => false
      }
      assert(!reshuffled, s"edge cache re-shuffled:\n${plan.toString.take(4000)}")
      val resorted = flatten(plan).exists {
        case so: org.apache.spark.sql.execution.SortExec =>
          reachesEdgeScanDirect(so.child)
        case _ => false
      }
      assert(!resorted, s"edge cache re-sorted per round:\n${plan.toString.take(4000)}")
      // the docstring's claim, pinned: exactly two |V|-sized exchanges
      // per round — the rank-in repartition on src and the contribution
      // aggregate on dst. There is NO round-closing join: every node
      // unions a zero contribution into the aggregate itself (a
      // localCheckpoint under AQE reports UNKNOWN partitioning, so a
      // join against it cannot be co-partitioned and would re-shuffle —
      // the third exchange this assert exists to forbid). A count-less
      // repartition that AQE re-coalesced would surface here too.
      val exchanges = flatten(plan).collect {
        case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => ex
      }.distinct
      assert(exchanges.size == 2,
        s"expected exactly 2 per-round shuffles, got ${exchanges.size}:\n" +
          plan.toString.take(4000))
    }
  }
}
