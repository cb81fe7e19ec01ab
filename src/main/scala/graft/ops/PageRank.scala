package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative PageRank as a DataFrame loop — the graph-analytics operator a
  * link/citation/co-occurrence corpus needs (reference scope has no graph
  * ops; this rounds out the engine the same way the GraphX connected
  * components in `ext.Dedup.dupGroups` did for clustering).
  *
  * Engine-deterministic by construction: ranks are FIXED-POINT LONGS
  * (micro-units, 1.0 ≡ 1 000 000), per-edge contributions are integer
  * `div`s, and the damping step is `base + (d·mass) div 100` — every
  * operation is associative integer arithmetic, so the result is identical
  * regardless of partitioning, reduction order, or engine (the DuckDB
  * oracle unrolls the same recurrence; see [[pageRankSql]]). This is the
  * same determinism discipline as `Reference.msum`, applied to an iterative
  * algorithm. Convention matches GraphX's unnormalized form: every node
  * starts with mass 1.0, new = (1−d) + d·Σ incoming (total mass ≈ N, not 1).
  *
  * Scale shape: vertex-centric message passing (the Pregelix model). The
  * graph state — one row per node with its distinct out-neighbours and
  * out-degree — is built by one shuffle and pinned once as a local
  * checkpoint, so its blocks go with the result and nothing is left in the
  * session cache. Each superstep joins the ranks to that adjacency, explodes each
  * sender's `rank div deg` to its neighbours, adds one zero message per
  * node (which keeps in-edge-less nodes without a join against the node
  * universe) and sums per destination: ONE shuffle per superstep. While
  * the adjacency fits the broadcast threshold, the join broadcasts it once
  * for all supersteps; past it, the planner exchanges the adjacency once
  * and reuses that exchange in every superstep. `checkpointEvery`
  * (default 5) truncates lineage with `localCheckpoint` — each
  * iteration's plan embeds the previous one, so without truncation
  * analyzer cost grows multiplicatively and a 30–50 iteration run stalls
  * the driver before a task launches.
  * Dangling nodes (out-degree 0) keep their base mass but leak the damped
  * share, as in the classic simplified formulation; on a symmetrized graph
  * (the common co-occurrence case, and the e23 query) none exist.
  */
object PageRank {

  private val Micro = 1000000L

  /** Run `iters` damped iterations over directed (src, dst) edges.
    * Output: (node, rank_micro, rank) totally ordered by node.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, dampingPct: Int = 85,
      checkpointEvery: Int = 5): DataFrame = {
    val base = (100 - dampingPct) * Micro / 100
    iterate(edges, iters, dampingPct, checkpointEvery,
      baseOf = _ => lit(base), initOf = _ => lit(Micro))
  }

  /** Personalized PageRank: the teleport lands only on `seeds`, so rank
    * measures proximity to the seed set rather than global centrality —
    * the "related items" / "similar users" primitive over the same
    * co-occurrence graphs [[pageRank]] ranks globally. Same unnormalized
    * micro-units convention: each SEED starts at 1.0 and receives the
    * (1−d) restart share every step; every other node starts at 0 and
    * earns mass only through in-edges. Seeds absent from the edge list are
    * ignored (the node universe is src ∪ dst). The seed membership test is
    * a literal IN over the node id — seed sets are small by definition
    * (a query vector, not a table); a frame-sized personalization vector
    * would join instead.
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[Long],
      iters: Int = 5, dampingPct: Int = 85,
      checkpointEvery: Int = 5): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    val base = (100 - dampingPct) * Micro / 100
    def isSeed(node: Column) = node.isin(seeds.distinct: _*)
    iterate(edges, iters, dampingPct, checkpointEvery,
      baseOf = n => when(isSeed(n), lit(base)).otherwise(lit(0L)),
      initOf = n => when(isSeed(n), lit(Micro)).otherwise(lit(0L)))
  }

  /** The shared damped-iteration loop: `baseOf`/`initOf` map the node id
    * column to that node's restart mass and starting rank (constants for
    * the global walk, seed-gated for the personalized one).
    */
  private def iterate(edges: DataFrame, iters: Int, dampingPct: Int,
      checkpointEvery: Int, baseOf: Column => Column,
      initOf: Column => Column): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    require(iters <= 10 || checkpointEvery > 0,
      s"iters=$iters without lineage truncation: each iteration's plan embeds " +
        "the previous one, so long runs need checkpointEvery > 0")

    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // the graph state, built by ONE shuffle and pinned: a row per node of
    // the src ∪ dst universe with its distinct out-neighbours (an edge
    // (x, null) keeps null as one neighbour, so it counts in deg(x))
    val graph = Layout.pin(
      e.select(col("src").as("node"), array(col("dst")).as("out"))
        .unionAll(e.select(col("dst").as("node"),
          array().cast("array<bigint>").as("out")))
        .groupBy(col("node"))
        .agg(array_distinct(flatten(collect_list(col("out")))).as("nbrs"))
        .select(col("node"), col("nbrs"), size(col("nbrs")).cast("long").as("deg")))
    // one zero message per node keeps in-edge-less nodes in every superstep
    val zeros = graph.select(col("node"), lit(0L).as("contrib"))

    // one superstep over (node, nbrs, deg, rank_micro): every sender splits
    // its rank over its neighbours and the messages are summed per
    // destination, the superstep's one shuffle. A null node neither sends
    // nor receives. `deg > 0` must filter before the `div`: ANSI raises on
    // a sink's division by zero before `explode` would drop its empty row
    def superstep(state: DataFrame): DataFrame =
      state.where(col("node").isNotNull && col("deg") > 0)
        .select(explode(col("nbrs")).as("node"),
          expr("rank_micro div deg").as("contrib"))
        .where(col("node").isNotNull)
        .unionAll(zeros)
        .groupBy(col("node"))
        .agg(sum(col("contrib")).as("in_mass"))
        .select(col("node"),
          (baseOf(col("node")) + expr(s"($dampingPct * in_mass) div 100"))
            .as("rank_micro"))

    var ranks = superstep(graph.withColumn("rank_micro", initOf(col("node"))))
    for (i <- 2 to iters) {
      // truncate before a superstep builds on the ranks, never after the
      // last one (that would materialize the whole result once for nothing)
      if (checkpointEvery > 0 && (i - 1) % checkpointEvery == 0)
        ranks = ranks.localCheckpoint(true)
      // disjoint column names (not dataset-qualified refs): the ranks join
      // the adjacency their own lineage was built from, where qualified
      // resolution can trip Spark's ambiguous-self-join detection
      ranks = superstep(graph.join(ranks.withColumnRenamed("node", "pr_node"),
        col("node") === col("pr_node")))
    }
    ranks
      .select(col("node"), col("rank_micro"),
        (col("rank_micro").cast("double") / Micro).as("rank"))
      .orderBy(col("node"))
  }

  /** DuckDB mirror of [[pageRank]]: unrolls the identical integer
    * recurrence (`//` = integer div; sums re-cast to BIGINT because DuckDB
    * widens SUM(BIGINT) to HUGEINT). GENERATED from the same
    * (iters, dampingPct) so the recurrences cannot drift. `edgesCte` must
    * define columns (src, dst); it does NOT need to be symmetric or
    * duplicate-free — like the Spark side, edges are DISTINCT'd, the node
    * universe is src ∪ dst, and each step LEFT JOINs contributions onto
    * that universe, so sink-only nodes keep their base mass in both
    * engines (this mirror previously inner-joined through the edge list,
    * which silently dropped in-edge-less nodes on asymmetric graphs).
    */
  def pageRankSql(edgesCte: String, iters: Int = 5, dampingPct: Int = 85): String = {
    val base = (100 - dampingPct) * Micro / 100
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM(r${i - 1}.rank_micro // deg.deg) AS BIGINT) AS in_mass
         |  FROM e JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT n.node,
         |    $base + ($dampingPct * COALESCE(c$i.in_mass, CAST(0 AS BIGINT))) // 100 AS rank_micro
         |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesCte)),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST($Micro AS BIGINT) AS rank_micro FROM nodes),
       |$steps
       |SELECT node, rank_micro, CAST(rank_micro AS DOUBLE) / $Micro AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** DuckDB mirror of [[personalizedPageRank]] — the [[pageRankSql]]
    * unroll with the restart mass and the starting rank gated on seed
    * membership, GENERATED from the same (seeds, iters, dampingPct).
    */
  def personalizedPageRankSql(edgesCte: String, seeds: Seq[Long],
      iters: Int = 5, dampingPct: Int = 85): String = {
    require(seeds.nonEmpty, "personalized PageRank needs at least one seed")
    val base = (100 - dampingPct) * Micro / 100
    val in = seeds.distinct.sorted.mkString("(", ", ", ")")
    val steps = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS node,
         |    CAST(SUM(r${i - 1}.rank_micro // deg.deg) AS BIGINT) AS in_mass
         |  FROM e JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src
         |  GROUP BY e.dst),
         |r$i AS (
         |  SELECT n.node,
         |    CASE WHEN n.node IN $in THEN $base ELSE 0 END
         |      + ($dampingPct * COALESCE(c$i.in_mass, CAST(0 AS BIGINT))) // 100 AS rank_micro
         |  FROM nodes n LEFT JOIN c$i ON c$i.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesCte)),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node,
       |  CAST(CASE WHEN node IN $in THEN $Micro ELSE 0 END AS BIGINT)
       |    AS rank_micro FROM nodes),
       |$steps
       |SELECT node, rank_micro, CAST(rank_micro AS DOUBLE) / $Micro AS rank
       |FROM r$iters ORDER BY node""".stripMargin
  }
}
