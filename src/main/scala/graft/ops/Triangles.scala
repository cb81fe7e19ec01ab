package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected edge list — the graph
  * cohesion primitive beside PageRank (e23/e81) and connected components
  * (e14). In the dedup pipeline it is the cluster-quality diagnostic the
  * transitive tail can't give: [[graft.ext.Dedup.dupGroups]] merges
  * A~B~C into one group whether the pairs form a clique (true duplicate
  * family — every pair verified) or a chain (two unrelated docs bridged by
  * a hub — the classic transitive-closure false merge). Triangle support
  * separates the two: clique members sit on many triangles, chain bridges
  * on none, so `n_triangles = 0` inside a multi-doc group flags exactly
  * the merges worth re-verifying.
  *
  * Algorithm (compact-forward over adjacency arrays — Suri &
  * Vassilvitskii, WWW'11 "Counting triangles and the curse of the last
  * reducer"): orient every edge from its lower endpoint to its higher
  * endpoint under the total order (degree, id). The orientation is
  * acyclic, and on 3 vertices an acyclic tournament has exactly one
  * source/middle/sink — so intersecting `out(u) ∩ out(v)` for every
  * oriented edge u→v finds each triangle EXACTLY once (at the edge from
  * its source to its middle), and `|out(u)|` is bounded by O(√m) (a vertex
  * of degree d only points at neighbours of degree ≥ d) — the hub explosion
  * a naive neighbour join suffers cannot happen. Steps, each one shuffle:
  *  1. one explode reads both orientations of every edge, and one
  *     aggregation builds `N(x)` as a set (duplicate and reversed edges
  *     collapse there, self-loops and null endpoints are dropped before);
  *  2. one message round: every x sends `(deg x, x)` to each neighbour y,
  *     and y keeps the senders above itself in the order — its degree is
  *     the number of messages it receives, so no join is needed. The
  *     result is the out-adjacency `(v, out)`, a keyed pin by v;
  *  3. each oriented edge v→w carries `out(v)` to w (the only shuffle into
  *     the co-partitioned out-adjacency) and intersects it with `out(w)`;
  *  4. one aggregation sums the credits (|C| to v and w, 1 to each member
  *     of C) together with a zero for every vertex.
  *
  * Output: `(id, n_triangles)` for EVERY vertex incident to an edge
  * (zero-triangle vertices kept — absence of support is the signal),
  * totally ordered by id. Self-loops and duplicate/reversed edges are
  * tolerated and collapsed.
  *
  * Pin lifetime: only the out-adjacency is pinned (step 3 reads it on both
  * sides of its join and step 4 reads its vertices); the edge arrays and
  * the undirected adjacency have one consumer each and stay lazy. The pin
  * is bounded by the edge count and released with the returned frame, the
  * graft-wide convention (see Drift's scaladoc).
  */
object Triangles {

  def triangleCounts(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame = {
    // 1. N(x): both orientations from one read, collapsed into a set
    val nbrs = edges
      .select(inline(array(
        struct(col(aCol).as("x"), col(bCol).as("y")),
        struct(col(bCol).as("x"), col(aCol).as("y")))))
      .where(col("x") =!= col("y"))
      .groupBy(col("x")).agg(collect_set(col("y")).as("nbr"))
    // 2. x tells each neighbour (deg x, x); v keeps the senders above it
    val msgs = nbrs.select(explode(col("nbr")).as("v"),
        struct(size(col("nbr")).as("d"), col("x").as("id")).as("m"))
      .groupBy(col("v")).agg(collect_list(col("m")).as("ms"))
    val d = size(col("ms"))
    val out = Layout.pin(msgs.select(col("v"), array_sort(transform(
      filter(col("ms"), m => m("d") > d || (m("d") === d && m("id") > col("v"))),
      m => m("id"))).as("out")), "v")
    // 3. out(v) travels along each oriented edge v→w to meet out(w)
    val common = out.select(col("v"), explode(col("out")).as("w"),
        col("out").as("out_v"))
      .join(out.select(col("v").as("w"), col("out").as("out_w"))
        .hint("shuffle_hash"), "w")
      .select(col("v"), col("w"),
        array_intersect(col("out_v"), col("out_w")).as("c"))
    // 4. credits and a zero per vertex, one aggregation
    val nc = size(col("c")).cast("long")
    val credit = common.select(inline(concat(
      array(struct(col("v").as("id"), nc.as("n")),
        struct(col("w").as("id"), nc.as("n"))),
      transform(col("c"), u => struct(u.as("id"), lit(1L).as("n"))))))
    credit.unionAll(out.select(col("v").as("id"), lit(0L).as("n")))
      .groupBy(col("id"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_triangles"))
      .orderBy(col("id"))
  }

  /** DuckDB twin of [[triangleCounts]] — generated; an independent join
    * formulation of the same result: the same (degree, id) orientation
    * rule, but each triangle found by a three-way join of the oriented edge
    * list, and the same zero-fill. `edgesSql` is any query text producing
    * `(id_a, id_b)` rows; it is spliced as a MATERIALIZED CTE, so DuckDB
    * evaluates it once instead of inlining it into every reader of `und`
    * (callers pass all-pairs similarity joins: at sf0.01 e94's oracle ran
    * 448.5 s inlined and 31.3 s materialized, same rows), and `prelude`
    * lets callers prepend further CTEs it depends on (the linearFitBySql
    * convention).
    */
  def triangleCountsSql(edgesSql: String, prelude: String = ""): String = {
    val pre = if (prelude.isEmpty) "" else s"$prelude "
    s"""WITH ${pre}pairs_in AS MATERIALIZED (
       |$edgesSql
       |), und AS (
       |  SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
       |  FROM pairs_in
       |  WHERE least(id_a, id_b) IS NOT NULL
       |    AND least(id_a, id_b) <> greatest(id_a, id_b)
       |), deg AS (
       |  SELECT id, COUNT(*) AS d FROM (
       |    SELECT lo AS id FROM und UNION ALL SELECT hi FROM und
       |  ) GROUP BY 1
       |), o AS (
       |  SELECT CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND und.lo < und.hi)
       |              THEN und.lo ELSE und.hi END AS u,
       |         CASE WHEN dl.d < dh.d OR (dl.d = dh.d AND und.lo < und.hi)
       |              THEN und.hi ELSE und.lo END AS v
       |  FROM und
       |  JOIN deg dl ON dl.id = und.lo
       |  JOIN deg dh ON dh.id = und.hi
       |), tri AS (
       |  SELECT e1.u AS t_u, e1.v AS t_v, e2.v AS t_w
       |  FROM o e1
       |  JOIN o e2 ON e1.v = e2.u
       |  JOIN o e3 ON e3.u = e1.u AND e3.v = e2.v
       |), credit AS (
       |  SELECT id, COUNT(*) AS n FROM (
       |    SELECT t_u AS id FROM tri
       |    UNION ALL SELECT t_v FROM tri
       |    UNION ALL SELECT t_w FROM tri
       |  ) GROUP BY 1
       |)
       |SELECT deg.id AS id, COALESCE(credit.n, 0) AS n_triangles
       |FROM deg LEFT JOIN credit USING (id)
       |ORDER BY id""".stripMargin
  }

  /** Adamic–Adar link prediction over the same undirected graph: for every
    * non-adjacent vertex pair with ≥1 common neighbor, AA(u,v) =
    * Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — common neighbors weighted inversely
    * by how promiscuous they are (a shared degree-2 neighbor is strong
    * evidence; a shared hub is nearly none). In the dedup pipeline this is
    * the candidate-recovery diagnostic: a high-AA non-edge inside a dup
    * cluster is a pair the banding missed (LSH recall is probabilistic) —
    * exactly the pairs worth re-verifying. `includeExisting = true` scores
    * already-connected pairs instead (edge-support strength).
    *
    * Shape: one wedge self-join on the middle vertex (the triangle join's
    * first hop) + one pair aggregate (+ one anti-join against the edge
    * list when excluding existing edges). The wedge fan-out is Σ deg(w)²;
    * `maxDegree` drops middles above the cap — the standard AA guard: a
    * super-hub contributes ≈ 1/ln(huge) ≈ nothing to the score but deg²
    * to the cost. The cap is on the MIDDLE role only; capped vertices
    * still appear as endpoints.
    *
    * Determinism: per-wedge terms are `round(10⁶/ln(deg w))` longs (the
    * repo's ln fixed-point discipline), summed exactly; one final division
    * + 4dp round. Output `(id_a, id_b, n_common, aa_score)` with
    * id_a < id_b, totally ordered.
    */
  def adamicAdar(edges: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxDegree: Long = 1000L,
      includeExisting: Boolean = false): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be ≥ 2, got $maxDegree")
    val und = edges
      .select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .where(col("lo") =!= col("hi") && col("lo").isNotNull)
      .distinct()
      .transform(Layout.pin)
    // consumers: deg, both wedge sides, the existing-edge anti-join —
    // pin-lifetime convention (see Drift's scaladoc)
    val deg = und.select(col("lo").as("id"))
      .unionAll(und.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val adjW = und.select(col("lo").as("w"), col("hi").as("nbr"))
      .unionAll(und.select(col("hi").as("w"), col("lo").as("nbr")))
      .join(deg.select(col("id").as("w"), col("d")), "w")
      // d ≥ 2: a leaf can't be a wedge middle, and its 1/ln(1) term would
      // be Infinity (ANSI long cast error) if the projection ever ran
      .where(col("d") >= 2 && col("d") <= maxDegree)
      .select(col("w"), col("nbr"),
        round(lit(1000000.0) / log(col("d").cast("double")), 0)
          .cast("long").as("term"))
    val l = adjW.select(col("w"), col("nbr").as("u"), col("term"))
    val r = adjW.select(col("w"), col("nbr").as("v"))
    val pairs = l.join(r, "w").where(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("term")).as("s"))
    val kept =
      if (includeExisting) pairs
      else pairs.join(und,
        pairs("u") === und("lo") && pairs("v") === und("hi"), "left_anti")
    kept.select(col("u").as("id_a"), col("v").as("id_b"), col("n_common"),
        round(col("s").cast("double") / lit(1000000.0), 4).as("aa_score"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB mirror of [[adamicAdar]] — generated; same orientation-free
    * wedge join, same fixed-point terms, same anti-join. `edgesSql` /
    * `prelude` as in [[triangleCountsSql]] (`pairs_in` MATERIALIZED).
    */
  def adamicAdarSql(edgesSql: String, prelude: String = "",
      maxDegree: Long = 1000L, includeExisting: Boolean = false): String = {
    val pre = if (prelude.isEmpty) "" else s"$prelude "
    val anti =
      if (includeExisting) ""
      else
        """
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM und WHERE und.lo = p.u AND und.hi = p.v
          |)""".stripMargin
    s"""WITH ${pre}pairs_in AS MATERIALIZED (
       |$edgesSql
       |), und AS (
       |  SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
       |  FROM pairs_in
       |  WHERE least(id_a, id_b) IS NOT NULL
       |    AND least(id_a, id_b) <> greatest(id_a, id_b)
       |), deg AS (
       |  SELECT id, COUNT(*) AS d FROM (
       |    SELECT lo AS id FROM und UNION ALL SELECT hi FROM und
       |  ) GROUP BY 1
       |), adjw AS (
       |  SELECT a.w, a.nbr,
       |    CAST(round(1000000.0 / ln(CAST(deg.d AS DOUBLE)), 0) AS BIGINT)
       |      AS term
       |  FROM (
       |    SELECT lo AS w, hi AS nbr FROM und
       |    UNION ALL SELECT hi, lo FROM und
       |  ) a JOIN deg ON deg.id = a.w
       |  WHERE deg.d >= 2 AND deg.d <= $maxDegree
       |), p AS (
       |  SELECT l.nbr AS u, r.nbr AS v, COUNT(*) AS n_common,
       |    CAST(SUM(l.term) AS BIGINT) AS s
       |  FROM adjw l JOIN adjw r ON l.w = r.w
       |  WHERE l.nbr < r.nbr
       |  GROUP BY 1, 2
       |)
       |SELECT u AS id_a, v AS id_b, n_common,
       |  round(CAST(s AS DOUBLE) / 1000000.0, 4) AS aa_score
       |FROM p$anti
       |ORDER BY id_a, id_b""".stripMargin
  }
}
