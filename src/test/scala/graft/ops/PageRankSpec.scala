package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def edgesDf(pairs: (Long, Long)*) = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Scala unroll of the exact integer recurrence both engines implement —
    * the spec's independent third voice next to pageRank and pageRankSql.
    */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
      dampingPct: Int = 85): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val base = (100L - dampingPct) * 1000000L / 100L
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(n => n -> (base + dampingPct * in.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("asymmetric graph: sink-only and source-only nodes keep base mass") {
    // 1→2, 1→3, 2→3: node 3 is a pure sink (no out-edges), node 1 has no
    // in-edges — the exact shape where the old inner-join SQL mirror
    // dropped nodes. Hand-unrolled iters=2 expectation:
    //   r1 = (1: 150000, 2: 575000, 3: 1425000)
    //   r2 = (1: 150000, 2: 213750, 3: 702500)
    val got = ranks(PageRank.pageRank(edgesDf(1L -> 2L, 1L -> 3L, 2L -> 3L), iters = 2))
    assert(got == Map(1L -> 150000L, 2L -> 213750L, 3L -> 702500L))
    assert(got == reference(Seq(1L -> 2L, 1L -> 3L, 2L -> 3L), iters = 2))
  }

  test("SQL mirror keeps the full node universe on asymmetric graphs") {
    val sql = PageRank.pageRankSql("SELECT 1 AS src, 2 AS dst", iters = 3)
    // node universe = src ∪ dst, recurrence left-joins onto it
    assert(sql.contains("nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)"))
    assert(sql.contains("r0 AS (SELECT node"))
    (1 to 3).foreach(i => assert(sql.contains(s"FROM nodes n LEFT JOIN c$i")))
    // edges normalized exactly like the Spark side
    assert(sql.contains("SELECT DISTINCT src, dst FROM"))
  }

  test("deterministic under adversarial repartitioning and duplicate edges") {
    val edges = (1L to 40L).flatMap(i => Seq(i -> (i % 40 + 1), (i % 40 + 1) -> i))
    val expected = reference(edges, iters = 5)
    Seq(
      edgesDf(edges: _*),
      edgesDf(edges: _*).repartition(13),
      edgesDf((edges ++ edges.take(17)): _*).orderBy(rand(7)) // dup edges, shuffled
    ).foreach { d =>
      assert(ranks(PageRank.pageRank(d, iters = 5)) == expected)
    }
  }

  test("mass conservation on a symmetric regular graph") {
    // symmetric ring: every node deg 2, perfectly regular → every rank
    // stays exactly at the fixed point 1.0 (base + 85% of 1.0)
    val ring = (1L to 10L).flatMap(i => Seq(i -> (i % 10 + 1), (i % 10 + 1) -> i))
    val got = ranks(PageRank.pageRank(edgesDf(ring: _*), iters = 4))
    assert(got.values.forall(_ == 1000000L), got)
  }

  test("25 iterations complete with the default lineage checkpointing") {
    val edges = edgesDf(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val got = ranks(PageRank.pageRank(edges, iters = 25))
    assert(got == reference(Seq(1L -> 2L, 2L -> 3L, 3L -> 1L), iters = 25))
  }

  test("long runs without checkpointing are rejected loudly") {
    val e = edgesDf(1L -> 2L)
    intercept[IllegalArgumentException] {
      PageRank.pageRank(e, iters = 25, checkpointEvery = 0)
    }
  }

  test("self-loops feed a node's own rank back through the recurrence") {
    // 1⇄2 plus a self-loop on 1: deg(1)=2, deg(2)=1
    val edges = Seq(1L -> 2L, 2L -> 1L, 1L -> 1L)
    val got = ranks(PageRank.pageRank(edgesDf(edges: _*), iters = 3))
    assert(got == reference(edges, iters = 3))
    assert(got.keySet == Set(1L, 2L))
  }

  test("empty edge frame yields an empty result, not a failure") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(PageRank.pageRank(empty, iters = 2).collect().isEmpty)
  }

  /** The [[reference]] unroll with seed-gated restart mass and init. */
  private def pprReference(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int, dampingPct: Int = 85): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val base = (100L - dampingPct) * 1000000L / 100L
    var r = nodes.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = nodes.map(n => n ->
        ((if (seeds(n)) base else 0L) + dampingPct * in.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("personalized rank decays with distance from the seed") {
    // chain 1→2→3→4, seed {1}: mass enters only at 1 and dilutes hop by hop
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val got = ranks(PageRank.personalizedPageRank(edgesDf(chain: _*),
      seeds = Seq(1L), iters = 4))
    assert(got == pprReference(chain, Set(1L), iters = 4))
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) > got(4L))
    // a non-seed node with no path from the seed holds zero rank
    val forked = chain :+ (5L -> 4L)
    val got2 = ranks(PageRank.personalizedPageRank(edgesDf(forked: _*),
      seeds = Seq(1L), iters = 4))
    assert(got2(5L) == 0L)
  }

  test("seeding every node reproduces the global walk") {
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L)
    val global = ranks(PageRank.pageRank(edgesDf(edges: _*), iters = 3))
    val allSeeds = ranks(PageRank.personalizedPageRank(edgesDf(edges: _*),
      seeds = Seq(1L, 2L, 3L), iters = 3))
    assert(global == allSeeds)
  }

  test("personalized walk matches the SQL mirror's recurrence shape and is stable") {
    val edges = (1L to 30L).flatMap(i => Seq(i -> (i % 30 + 1), (i % 30 + 1) -> i))
    val expected = pprReference(edges, Set(1L, 2L), iters = 5)
    Seq(
      edgesDf(edges: _*),
      edgesDf(edges: _*).repartition(13),
      edgesDf((edges ++ edges.take(9)): _*).orderBy(rand(3))
    ).foreach { d =>
      assert(ranks(PageRank.personalizedPageRank(d, Seq(1L, 2L), iters = 5))
        == expected)
    }
    val sql = PageRank.personalizedPageRankSql("SELECT 1 AS src, 2 AS dst",
      Seq(2L, 1L), iters = 2)
    // seed list is deduped+sorted into the literal; universe left-joined
    assert(sql.contains("IN (1, 2)"))
    (1 to 2).foreach(i => assert(sql.contains(s"FROM nodes n LEFT JOIN c$i")))
    // seeds outside the graph contribute nothing — all-zero ranks, no rows lost
    val offGraph = ranks(PageRank.personalizedPageRank(
      edgesDf(1L -> 2L, 2L -> 1L), seeds = Seq(99L), iters = 3))
    assert(offGraph == Map(1L -> 0L, 2L -> 0L))
  }

  test("empty seed set is rejected loudly") {
    intercept[IllegalArgumentException] {
      PageRank.personalizedPageRank(edgesDf(1L -> 2L), seeds = Seq.empty, iters = 2)
    }
  }

  test("null endpoints: counted in the sender's degree, never send or receive") {
    import spark.implicits._
    def nullableRanks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getLong(1)).toMap
    // (1,null) counts in deg(1) and its share is dropped; (null,3) never
    // sends; the null node is in the universe and keeps its restart mass
    val edges = Seq(Some(1L) -> Some(2L), Some(1L) -> None, None -> Some(3L),
      Some(2L) -> Some(1L), Some(3L) -> Some(1L), None -> None,
      Some(2L) -> Some(2L), Some(4L) -> None).toDF("src", "dst")
    assert(nullableRanks(PageRank.pageRank(edges, iters = 3)) == Map(
      None -> 150000L, Some(1L) -> 779265L, Some(2L) -> 950327L,
      Some(3L) -> 150000L, Some(4L) -> 150000L))
    assert(nullableRanks(PageRank.personalizedPageRank(edges, Seq(1L, 4L),
      iters = 3)) == Map(None -> 0L, Some(1L) -> 253858L, Some(2L) -> 244374L,
      Some(3L) -> 0L, Some(4L) -> 150000L))
  }

  test("the walk leaves no entry in the session cache") {
    spark.catalog.clearCache()
    val edges = (1L to 40L).flatMap(i => Seq(i -> (i % 40 + 1), i -> (i * 7 % 40 + 1)))
    assert(ranks(PageRank.pageRank(edgesDf(edges: _*), iters = 3)).size == 40)
    assert(ranks(PageRank.personalizedPageRank(edgesDf(edges: _*), Seq(1L),
      iters = 3)).size == 40)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  /** Hash-partitioned shuffle exchanges in a plan, through AQE's stages;
    * a reused exchange shuffles nothing and is not counted again.
    */
  private def hashExchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => hashExchanges(a.executedPlan)
    case q: QueryStageExec => hashExchanges(q.plan)
    case s: ShuffleExchangeExec =>
      (if (s.outputPartitioning.isInstanceOf[HashPartitioning]) 1 else 0) +
        hashExchanges(s.child)
    case other => other.children.map(hashExchanges).sum
  }

  /** Jobs started while `body` runs ([[graft.PlanProbe.observe]]). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val o = graft.PlanProbe.observe(spark)(body)
    (o.result, o.jobs)
  }

  test("one shuffle per superstep: exchange and job bounds for 5 iterations") {
    // 1,000 nodes, 4 out-edges each
    val edges = (0L until 1000L).flatMap(i =>
      (0L until 4L).map(k => i -> ((i * 7 + k * 13 + 1) % 1000L)))
    val ((pr, got), jobs) = jobsDuring {
      val pr = PageRank.pageRank(edgesDf(edges: _*), iters = 5)
      (pr, ranks(pr))
    }
    assert(got == reference(edges, iters = 5))
    // the adjacency is built behind the pin and broadcast to the join, so
    // each superstep adds only its groupBy
    val plan = pr.queryExecution.executedPlan
    assert(hashExchanges(plan) <= 5, plan.toString)
    assert(jobs <= 14, s"$jobs jobs")
  }

  test("an adjacency past the broadcast threshold is exchanged once, ranks unchanged") {
    val edges = (0L until 200L).flatMap(i =>
      (0L until 3L).map(k => i -> ((i * 11 + k * 17 + 3) % 200L)))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val pr = PageRank.pageRank(edgesDf(edges: _*), iters = 5)
      assert(ranks(pr) == reference(edges, iters = 5))
      // 5 supersteps plus one exchange of the adjacency that every
      // superstep's join reuses
      val plan = pr.queryExecution.executedPlan
      assert(hashExchanges(plan) == 6, plan.toString)
    } finally spark.conf.set(key, before)
  }
}
