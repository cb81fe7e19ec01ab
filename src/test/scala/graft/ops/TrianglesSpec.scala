package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TrianglesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def counts(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Triangles.triangleCounts(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Brute-force per-vertex triangle counts over the cleaned undirected
    * graph — the third voice the operator is pinned against.
    */
  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val verts = adj.keys.toSeq.sorted
    val tris = for {
      a <- verts; b <- adj(a).toSeq.sorted if b > a
      c <- (adj(a) intersect adj(b)).toSeq.sorted if c > b
    } yield (a, b, c)
    val credit = tris.flatMap { case (a, b, c) => Seq(a, b, c) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    verts.map(v => v -> credit.getOrElse(v, 0L)).toMap
  }

  test("K4 clique: every vertex sits on 3 of the 4 triangles") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val got = counts(k4)
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("a chain has no triangles but every vertex is reported with zero") {
    val got = counts(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("clique-vs-chain diagnostic: the bridge of a chained merge has zero support") {
    // dup clique {1,2,3} + a hub bridge 3–4–5: dupGroups would merge all
    // five into one group; triangle support separates the clique (>0)
    // from the bridged tail (0)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = counts(g)
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(4L) == 0L && got(5L) == 0L)
  }

  test("self-loops, duplicates, and reversed edges collapse") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L),
      (2L, 3L), (3L, 1L))
    assert(counts(messy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("matches brute force on a deterministic pseudo-random graph") {
    // quadratic-residue-flavored edge set: dense enough for triangles,
    // irregular degrees (hub vertices exercise the orientation)
    val edges = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
      if (i * j + i + j) % 7 == 0
    } yield (i, j)
    assert(edges.size > 50)
    assert(counts(edges) == brute(edges))
  }

  test("is repartition-stable") {
    import spark.implicits._
    val edges = (for {
      i <- 0L until 30L; j <- (i + 1) until 30L
      if (i + 2 * j) % 5 == 0
    } yield (i, j)).toDF("id_a", "id_b")
    val a = Triangles.triangleCounts(edges).collect().toSeq
    val b = Triangles.triangleCounts(edges.repartition(7)).collect().toSeq
    assert(a == b)
  }

  test("an empty edge frame gives an empty (id long, n_triangles long) frame") {
    import spark.implicits._
    val got = Triangles.triangleCounts(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(got.collect().isEmpty)
    assert(got.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint", "n_triangles" -> "bigint"))
  }

  test("edges with a null endpoint are dropped, as the brute force drops them") {
    import spark.implicits._
    val edges = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), Some(3L)), (Some(3L), Some(1L)), (Some(3L), None),
      (None, Some(4L)), (None, None), (Some(4L), Some(1L)))
    val got = Triangles.triangleCounts(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nonNull = edges.collect { case (Some(a), Some(b)) => (a, b) }
    assert(got == brute(nonNull))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("self-loops only give no vertices") {
    assert(counts(Seq((1L, 1L), (2L, 2L), (2L, 2L))).isEmpty)
  }

  test("every edge duplicated and reversed counts as once") {
    val edges = for {
      i <- 0L until 25L; j <- (i + 1) until 25L
      if (3 * i + j) % 4 == 0
    } yield (i, j)
    val messy = edges.flatMap { case (a, b) => Seq((a, b), (b, a), (a, b)) }
    assert(counts(messy) == brute(edges))
  }

  test("equal-degree ties break by id: a cycle of triangles, every degree 4") {
    // the square of a 9-cycle: 4-regular, so the orientation is decided by
    // id alone on every edge
    val edges = (0L until 9L).flatMap(i => Seq((i, (i + 1) % 9), (i, (i + 2) % 9)))
    val got = counts(edges)
    assert(got == brute(edges))
    assert(got.values.toSet == Set(3L))
  }

  test("one hot key: a 200-leaf star with a K5 on its hub") {
    val star = (1L to 200L).map(i => (0L, i))
    val k5 = for (a <- 0L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = star ++ k5
    val got = counts(edges)
    assert(got == brute(edges))
    assert((0L to 4L).forall(got(_) == 6L) && got(200L) == 0L && got.size == 201)
  }

  test("output is totally ordered by id") {
    import spark.implicits._
    val edges = (for {
      i <- 0L until 30L; j <- (i + 1) until 30L
      if (i * j) % 5 == 1
    } yield (j, i)).toDF("id_a", "id_b").repartition(5)
    val ids = Triangles.triangleCounts(edges).collect().map(_.getLong(0)).toSeq
    assert(ids.nonEmpty && ids == ids.sorted)
  }

  private def aa(edges: Seq[(Long, Long)], maxDegree: Long = 1000L,
      includeExisting: Boolean = false): Map[(Long, Long), (Long, Double)] = {
    import spark.implicits._
    Triangles.adamicAdar(edges.toDF("id_a", "id_b"),
        maxDegree = maxDegree, includeExisting = includeExisting)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
  }

  private def aaTerm(deg: Long): Long = math.round(1e6 / math.log(deg.toDouble))

  test("adamicAdar scores the diagonals of a 4-cycle and excludes edges by default") {
    // square 1-2-3-4-1: the only common-neighbor pairs are the diagonals
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val want = BigDecimal(2 * aaTerm(2) / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(aa(sq) == Map((1L, 3L) -> ((2L, want)), (2L, 4L) -> ((2L, want))))
  }

  test("adamicAdar candidate recovery: a clique's missing edge scores highest") {
    // K4 minus (1,2) — the banding-missed pair: both remaining common
    // neighbors (3, 4) have degree 3
    val g = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = aa(g)
    val want = BigDecimal(2 * aaTerm(3) / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 2L)) == ((2L, want)))
    // nothing else shares 2 strong neighbors
    assert(got.keys.forall(p => got(p)._2 <= want))
  }

  test("adamicAdar includeExisting scores edge support inside a clique") {
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    assert(aa(k4).isEmpty) // a perfect clique has no non-edges to predict
    val got = aa(k4, includeExisting = true)
    val want = BigDecimal(2 * aaTerm(3) / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.size == 6 && got.values.forall(_ == ((2L, want))))
  }

  test("adamicAdar maxDegree drops hub middles but keeps them as endpoints") {
    // star 0–{1..5} + edge (1,2): (3,4) share only the hub
    val star = (1L to 5L).map(i => (0L, i)) :+ (1L, 2L)
    val full = aa(star)
    val hubWant = BigDecimal(aaTerm(5) / 1e6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(full((3L, 4L)) == ((1L, hubWant)))
    val capped = aa(star, maxDegree = 3)
    // hub no longer middles; the only sub-cap wedges (via 1 and 2) land on
    // existing edges (0,1)/(0,2), so the non-edge prediction set is empty
    assert(capped.isEmpty)
    // …but the hub still appears as an ENDPOINT via sub-cap middles
    val cappedWithEdges = aa(star, maxDegree = 3, includeExisting = true)
    assert(cappedWithEdges.keySet == Set((0L, 1L), (0L, 2L)))
  }

  test("adamicAdar matches brute force on the pseudo-random graph") {
    val edges = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
      if (i * j + i + j) % 7 == 0
    } yield (i, j)
    val und = edges.distinct
    val adj = und.flatMap { case (x, y) => Seq(x -> y, y -> x) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val deg = adj.map { case (k, v) => k -> v.size.toLong }
    val verts = adj.keys.toSeq.sorted
    val bruteRef = (for {
      u <- verts; v <- verts if u < v && !adj(u).contains(v)
      common = (adj(u) intersect adj(v)).toSeq if common.nonEmpty
    } yield {
      val s = common.map(w => aaTerm(deg(w))).sum
      (u, v) -> ((common.size.toLong,
        BigDecimal(s / 1e6).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }).toMap
    assert(aa(edges) == bruteRef)
  }
}
