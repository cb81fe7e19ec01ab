package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val emb = {
    import spark.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
      (4L, Array(0.7f, 0.7f, 0.0f)))
      .toDF("vec_id", "embedding")
  }

  test("cosine column matches hand computation") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    val want = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - want) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine with id tiebreak and excludes the query") {
    val got = Similarity.bruteForceTopK(emb, queryId = 0L, k = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 4L, 2L)) // 0.9939 > 0.7071 > 0.0
  }

  test("allPairsTopK returns k neighbors per id, best first") {
    val got = Similarity.allPairsTopK(emb, k = 2)
    assert(got.groupBy("id_a").count().collect().forall(_.getLong(1) == 2))
    val row0 = got.where(col("id_a") === 0 && col("rank") === 1).head()
    assert(row0.getLong(1) == 1L)
  }

  test("int8 quantization: 4x-smaller codes recover cosines within 1e-3") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.quantizeInt8(emb)
    // codes really are tinyint and bounded
    assert(q.schema("embedding").dataType.simpleString == "array<tinyint>")
    val deq = Similarity.dequantizeInt8(q)
    val drift = deq.select(col("vec_id"), col("embedding").as("d"))
      .join(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("o")), "vec_id")
      .select(abs(lit(1.0) - Similarity.cosine(col("d").cast("array<double>"), col("o"))).as("err"))
      .agg(max(col("err"))).head().getDouble(0)
    assert(drift < 1e-3, s"cosine drift $drift")
    // all-zero vectors survive the round trip
    val z = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val zq = Similarity.dequantizeInt8(Similarity.quantizeInt8(z))
    assert(zq.head().getSeq[Float](1).forall(_ == 0f))
    // subnormal-range vectors: float-scale rounding may push x/scale past
    // 127 — codes must clamp, not throw ANSI CAST_OVERFLOW
    val tiny = Seq((1L, Array(2.6e-43f, -1.0e-43f, 0.0f))).toDF("vec_id", "embedding")
    val codes = Similarity.quantizeInt8(tiny).head().getSeq[Byte](1)
    assert(codes.forall(c => c >= -127 && c <= 127), codes.toString)
  }

  test("native cosine_sim is bit-identical to the HOF spec on real embeddings") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = emb.as("a"); val b = emb.as("b")
    val joined = a.join(b, col("a.vec_id") + 1 === col("b.vec_id"))
    val diff = joined.select(
        Similarity.cosine(col("a.v"), col("b.v")).as("native"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("hof"))
      .where(col("native") =!= col("hof")) // bitwise: NaN never equals, none expected here
      .count()
    assert(diff == 0)
    // edge cases: mismatched lengths -> null in both forms (zip_with
    // null-pad parity); zero-norm inputs -> native NaN where the HOF's
    // Divide throws under ANSI (the native form is strictly more total)
    val edge = Seq((Array(1.0, 2.0), Array(1.0)))
      .toDF("x", "y")
      .select(Similarity.cosine(col("x"), col("y")).as("n"),
        Similarity.cosineHof(col("x"), col("y")).as("h"))
      .head()
    assert(edge.isNullAt(0) && edge.isNullAt(1))
    val empty = Seq((Array.empty[Double], Array.empty[Double])).toDF("x", "y")
    assert(empty.select(Similarity.cosine(col("x"), col("y"))).head().getDouble(0).isNaN)
    val thrown = intercept[Exception] {
      empty.select(Similarity.cosineHof(col("x"), col("y"))).head()
    }
    assert(thrown.getMessage.contains("DIVIDE_BY_ZERO"), thrown.getMessage)
  }

  test("centroidEval separates clean clusters and smears a planted mislabel") {
    import spark.implicits._
    // two tight, orthogonal-ish clusters + one vector labeled against its
    // cluster: the confusion matrix must put exactly that one off-diagonal
    val rows = Seq(
      (1L, Array(1.0, 0.0, 0.1), 0), (2L, Array(0.9, 0.1, 0.0), 0),
      (3L, Array(1.0, 0.1, 0.1), 0),
      (4L, Array(0.0, 1.0, 0.1), 1), (5L, Array(0.1, 0.9, 0.0), 1),
      (6L, Array(0.0, 1.0, 0.0), 0)) // mislabeled: sits in cluster 1
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidEval(rows).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((0, 0)) == 3L) // the three true 0s stay 0
    assert(got((0, 1)) == 1L) // the planted mislabel classifies as 1
    assert(got((1, 1)) == 2L)
    assert(!got.contains((1, 0)))
  }

  test("centroidEval is repartition-stable on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.centroidEval(emb).collect().toSeq
    val b = Similarity.centroidEval(emb.repartition(7)).collect().toSeq
    assert(a == b && a.nonEmpty)
    // every vector classified exactly once
    assert(a.map(_.getLong(2)).sum == emb.count())
  }

  test("silhouette scores orthogonal clusters 1 and coincident centroids 0") {
    import spark.implicits._
    // labels A (two copies of e_x) and B (e_y): every a = 0, every b = 1
    val clean = Seq(
      (1L, Array(1.0, 0.0), "A"), (2L, Array(1.0, 0.0), "A"),
      (3L, Array(0.0, 1.0), "B"))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouette(clean).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map("A" -> ((2L, 1.0)), "B" -> ((1L, 1.0))))
    // a vector exactly ON both centroids: a = b = 0 → s = 0 by convention
    val onTop = Seq(
      (1L, Array(1.0, 0.0), "A"), (2L, Array(1.0, 0.0), "B"))
      .toDF("vec_id", "embedding", "label")
    val s2 = Similarity.silhouette(onTop).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(s2 == Map("A" -> 0.0, "B" -> 0.0))
  }

  test("silhouette: mislabeled vector scores negative; single label yields null") {
    import spark.implicits._
    // vec 3 labeled B but sitting on A's axis → its own-centroid distance
    // exceeds its distance to A → negative s drags B's mean below A's
    val rows = Seq(
      (1L, Array(1.0, 0.0), "A"), (2L, Array(0.9, 0.1), "A"),
      (3L, Array(1.0, 0.1), "B"), (4L, Array(0.0, 1.0), "B"))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouette(rows).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got("A") > 0.5 && got("B") < got("A"))
    val single = Seq((1L, Array(1.0, 0.0), "A"), (2L, Array(0.0, 1.0), "A"))
      .toDF("vec_id", "embedding", "label")
    val sr = Similarity.silhouette(single).collect()
    assert(sr.length == 1 && sr.head.getLong(1) == 2L && sr.head.isNullAt(2))
  }

  test("silhouette is repartition-stable and bounded on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.silhouette(emb).collect().toSeq
    val b = Similarity.silhouette(emb.repartition(7)).collect().toSeq
    assert(a == b && a.nonEmpty)
    val sils = a.flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
    assert(sils.nonEmpty && sils.forall(s => s >= -1.0 && s <= 1.0))
  }

  test("cosine_sim reaches SQL text via GraftExtensions") {
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    Seq((Array(1.0, 0.0), Array(0.6, 0.8))).toDF("a", "b")
      .createOrReplaceTempView("cos_docs")
    val viaSql = spark.sql("SELECT cosine_sim(a, b) AS c FROM cos_docs").head().getDouble(0)
    assert(math.abs(viaSql - 0.6) < 1e-12)
  }
}
