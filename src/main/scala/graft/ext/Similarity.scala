package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (mandated extension E2,
  * SURVEY.md §2.e): exact cosine top-k, SemDeDup pairs, int8 quantization
  * and label-centroid quality measures. Every search here is exact.
  *
  * Scale posture: brute-force against ONE query vector is a broadcast of the
  * query + a single codegen'd scan with TakeOrderedAndProject (per-partition
  * top-k heaps, no global sort). For all-pairs workloads use
  * [[Dedup.embeddingNearDup]]'s hyperplane banding.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns — served by the native
    * fused-loop [[graft.functions.CosineSim]] expression (one codegen'd
    * pass for dot + both norms). The HOF twin below is the readable spec it
    * is pinned bit-identical against in SimilaritySpec; sequential
    * index-order accumulation in both → deterministic across runs and
    * engines. One deliberate divergence: a zero-norm input yields NaN here
    * (Java division semantics) where the HOF's Divide throws under ANSI —
    * the native form is strictly more total, which is what a corpus-scale
    * operator needs on degenerate vectors.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosineSim(a, b)

  /** HOF reference formulation of [[cosine]] — kept as the readable spec
    * the native expression is bit-identity-pinned against.
    */
  private[ext] def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Exact top-k by cosine against the embedding of `queryId`.
    * The single query row is broadcast; ties are broken by id so the result
    * set is deterministic. Returns (id, cosine) ordered best-first.
    */
  def bruteForceTopK(
      emb: DataFrame,
      queryId: Long,
      k: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val v = emb.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
    val q = v.where(col(idCol) === queryId).select(col("v").as("q_v"))
    v.where(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol), round(cosine(col("v"), col("q_v")), 4).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** All-pairs exact top-k neighbors per vector (small/medium corpora):
    * crossJoin + per-id window rank. Quadratic; do not run at 100 TB.
    */
  def allPairsTopK(emb: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).cast("array<double>").as("v_a"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).cast("array<double>").as("v_b"))
    val w = Window.partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b"))
    a.join(b, col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("v_a"), col("v_b")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Append an ml-Vector column `outCol` = the L2-normalized `arrCol`
    * (k-means input for [[semDedupPairs]] — cosine ≡ euclidean on the
    * unit sphere). No UDF: the norm is a codegen'd aggregate fold BOUND TO
    * ITS OWN PROJECTION first (a HOF lambda re-evaluates embedded subtrees
    * per element, so the norm must enter the divide lambda as an attribute),
    * then spark.ml's native `array_to_vector` converts. A zero norm (the
    * all-zero vector, or non-zero subnormals whose squares underflow to 0.0)
    * passes the input through unchanged — same contract as the UDF this
    * replaced, without the divide-by-MIN_VALUE blowup on the subnormal edge.
    */
  private def withUnitVec(df: DataFrame, arrCol: String, outCol: String): DataFrame = {
    val norm = sqrt(aggregate(
      transform(col(arrCol), x => x * x), lit(0.0), (acc, x) => acc + x))
    df.withColumn("__norm", norm)
      .withColumn(outCol,
        org.apache.spark.ml.functions.array_to_vector(
          when(col("__norm") === 0.0, col(arrCol))
            .otherwise(transform(col(arrCol), x => x / col("__norm")))))
      .drop("__norm")
  }

  /** SemDeDup semantic near-duplicate pairs (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * k-means-cluster the embeddings (seeded fit), then
    * compare pairs ONLY within a cluster — semantically unrelated points
    * never meet, so the quadratic term is Σ cell² instead of n². Returns
    * (id_a, id_b, cosine) with id_a < id_b and cosine (4dp-rounded, the e02
    * discipline — the threshold applies to the rounded value) ≥ `minCosine`.
    *
    * Scale posture: one k-means fit (sampled sweeps over the corpus), one
    * shuffle on the cell id for the self-join. Size `nClusters` so the mean
    * cell is a few thousand rows (the paper uses ~10⁵ clusters for web
    * scale); candidate recall is what the cluster assignment trades away —
    * near-dups split across a centroid boundary are missed, which the paper
    * accepts by construction (true for THIS operator too: exact copies
    * always share a cell, boundary-straddling near-dups may not).
    */
  def semDedupPairs(
      emb: DataFrame,
      nClusters: Int = 16,
      minCosine: Double = 0.95,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val v = withUnitVec(
      emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
      "v", "features")
    if (v.isEmpty)
      return v.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cosine")).where(lit(false))
    // nClusters = 1 is the exhaustive (all-pairs) mode: spark.ml's KMeans
    // rejects k = 1, and a single cell needs no fit anyway
    val assigned =
      if (nClusters == 1) v.select(col("id"), col("v"), lit(0).as("cell"))
      else {
        val model = new KMeans().setK(nClusters).setSeed(42L)
          .setFeaturesCol("features").setPredictionCol("cell")
          .fit(v)
        model.transform(v).select(col("id"), col("v"), col("cell"))
      }
    val a = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"))
    val b = assigned.select(col("cell"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), 4).as("cosine"))
      .where(col("cosine") >= minCosine)
  }

  /** SemDeDup keeper rows: [[semDedupPairs]] → transitive groups → min-id
    * keeper per group ([[Dedup.nearDedupRowsFrom]] tail — the paper keeps
    * the point with lowest centroid distance; min id is this repo's
    * deterministic convention, documented divergence).
    */
  def semDedupRows(
      emb: DataFrame,
      nClusters: Int = 16,
      minCosine: Double = 0.95,
      vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    Dedup.nearDedupRowsFrom(emb,
      semDedupPairs(emb, nClusters, minCosine, vecCol, idCol), idCol)

  /** Symmetric int8 quantization of an embedding column: per-vector
    * absolute-max scale, values rounded to [−127, 127] tinyints plus one
    * float scale — a 4× storage/shuffle cut (float32 → int8 + 4 bytes/row),
    * THE standard trick for serving 100 TB embedding tables. Per-row
    * codegen'd HOFs, zero shuffle. All-zero vectors keep scale 0 and
    * dequantize to zeros.
    *
    * Replaces `vecCol` with `array<tinyint>` and adds `{vecCol}_scale`
    * (float, = absmax/127). [[dequantizeInt8]] restores an approximate
    * float vector; recovery error per element is ≤ scale/2 (≈0.4 % of
    * absmax), which moves cosines by well under 1e-3 on real embeddings —
    * SimilaritySpec pins the bound.
    */
  def quantizeInt8(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val absmax = aggregate(v, lit(0.0), (m, x) => greatest(m, abs(x)))
    val scale = (absmax / 127.0).cast("float")
    // codes divide by the STORED float scale (so dequantize inverts the
    // exact same value), clamped to ±127: float rounding of a subnormal
    // scale may push x/scale past 127, which ANSI's byte cast would throw on
    val code = (x: Column) =>
      least(lit(127.0), greatest(lit(-127.0),
        round(x / col(s"${vecCol}_scale"), 0))).cast("byte")
    emb
      .withColumn(s"${vecCol}_scale", scale)
      .withColumn(vecCol,
        when(col(s"${vecCol}_scale") === 0f,
          transform(v, _ => lit(0).cast("byte")))
          .otherwise(transform(v, code)))
  }

  /** Inverse of [[quantizeInt8]]: int8 codes × the stored scale back to an
    * approximate `array<float>` vector.
    */
  def dequantizeInt8(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb.withColumn(vecCol,
      transform(col(vecCol), x => (x.cast("float") * col(s"${vecCol}_scale"))))

  /** [[quantizeInt8]] in oracle shape: per-vector scale (float32-exact,
    * presented at 6dp) and the int8 codes as a comma-joined string — a
    * string, not an array, so the compare is engine-portable. Every code is
    * integer-valued after ONE float division both engines perform on
    * identical doubles (the absmax fold is order-free, float32 rounding is
    * IEEE on both sides), so the dump is bit-stable.
    */
  def quantizeInt8Report(emb: DataFrame, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame =
    quantizeInt8(emb, vecCol)
      .select(col(idCol),
        round(col(s"${vecCol}_scale").cast("double"), 6).as("scale6"),
        array_join(transform(col(vecCol), _.cast("string")), ",").as("codes"))
      .orderBy(col(idCol))

  /** Generated DuckDB mirror of [[quantizeInt8Report]] — same absmax/127
    * float32 scale, same clamp-then-round code path. Keep in lockstep.
    */
  def quantizeInt8ReportSql(table: String): String =
    s"""WITH base AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    CAST(list_max(list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> abs(x))) / 127.0 AS REAL) AS scale
       |  FROM $table
       |)
       |SELECT vec_id,
       |  round(CAST(scale AS DOUBLE), 6) AS scale6,
       |  CASE WHEN scale = 0 THEN
       |    array_to_string(list_transform(v, x -> '0'), ',')
       |  ELSE array_to_string(list_transform(v, x ->
       |    CAST(CAST(least(127.0, greatest(-127.0,
       |      round(x / CAST(scale AS DOUBLE), 0))) AS TINYINT) AS VARCHAR)),
       |    ',')
       |  END AS codes
       |FROM base ORDER BY vec_id""".stripMargin

  /** Nearest-centroid label evaluation — the standard embedding-quality
    * probe: per-label mean vectors, every vector classified to its
    * nearest centroid by cosine, confusion counts out. A diagonal-heavy
    * confusion matrix means the embedding separates the label structure;
    * a smeared one means the labels are not linearly recoverable. One row
    * per observed (label, pred_label): `(label, pred_label, n)`.
    *
    * Determinism: centroid components are 1e-6-fixed-point long sums
    * divided by exact counts (no float-reduction order anywhere), so both
    * engines build BIT-IDENTICAL centroid arrays; the classification
    * cosine then rounds at 4dp with a label tie-break (the e02
    * discipline).
    *
    * Scale: the centroid pass explodes to |rows|×|dims| but reduces in
    * ONE shuffle to the |labels|×|dims| grid; classification is a
    * broadcast of the |labels|-row centroid frame and a per-row fused
    * cosine loop — no shuffle until the final categories²-sized count.
    */
  /** Per-label fixed-point-exact mean vectors `(c_label, cvec)` — the
    * 1e-6 long-sum centroids [[centroidEval]] and the e105 retrieval eval
    * share (bit-identical arrays on any engine/partitioning).
    */
  def labelCentroids(emb: DataFrame, vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    emb
      .where(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labelCol).as("label"), col(vecCol).cast("array<double>").as("v"))
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("x") * lit(1000000), 0).cast("long")).as("sa"),
        count(lit(1)).as("cnt"))
      .select(col("label"), col("dim"),
        (col("sa").cast("double") / col("cnt").cast("double") / lit(1000000))
          .as("c"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("c")))).as("sc"))
      .select(col("label").as("c_label"),
        transform(col("sc"), s => s("c")).as("cvec"))

  def centroidEval(emb: DataFrame, vecCol: String = "embedding",
      labelCol: String = "label", idCol: String = "vec_id"): DataFrame = {
    val base = emb
      .where(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("v"))
    val cent = labelCentroids(emb, vecCol, labelCol)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos").desc, col("c_label"))
    base
      .crossJoin(broadcast(cent))
      .select(col(idCol), col("label"), col("c_label"),
        round(cosine(col("v"), col("cvec")), 4).as("cos"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .groupBy(col("label"), col("c_label").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("label"), col("pred_label"))
  }

  /** DuckDB mirror of [[centroidEval]] — generated; the centroids are the
    * same fixed-point-exact doubles (zipped parallel unnest ↔ posexplode),
    * the cosine the same 4dp-rounded `list_cosine_similarity` the e02
    * family pins against the native expression.
    */
  def centroidEvalSql(table: String, vecCol: String = "embedding",
      labelCol: String = "label", idCol: String = "vec_id"): String =
    s"""WITH e AS (
       |  SELECT $idCol AS vec_id, $labelCol AS label,
       |    CAST($vecCol AS DOUBLE[]) AS v
       |  FROM $table
       |  WHERE $labelCol IS NOT NULL AND $vecCol IS NOT NULL
       |), atoms AS (
       |  SELECT label, unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x
       |  FROM e
       |), cm AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
       |      / COUNT(*) / 1000000 AS c
       |  FROM atoms GROUP BY 1, 2
       |), cent AS (
       |  SELECT label AS c_label, list(c ORDER BY dim) AS cvec FROM cm GROUP BY 1
       |), scored AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    round(list_cosine_similarity(e.v, c.cvec), 4) AS cos
       |  FROM e CROSS JOIN cent c
       |), best AS (
       |  SELECT vec_id, label, c_label,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS r
       |  FROM scored
       |)
       |SELECT label, c_label AS pred_label, COUNT(*) AS n
       |FROM best WHERE r = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Simplified (centroid) silhouette per label — the cluster-quality
    * scalar beside [[centroidEval]]'s confusion matrix: for each vector,
    * a = cosine distance to its OWN label centroid, b = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1]. High mean s =
    * tight, well-separated label clusters; near 0 = overlapping; negative
    * = vectors sit closer to a foreign centroid than their own. The
    * centroid form (Hruschka et al.'s "simplified silhouette") is the
    * scale-sane variant: the classic one needs all pairwise distances
    * WITHIN each cluster — quadratic per cluster and pointless at corpus
    * scale when the centroid already summarizes it.
    *
    * Output: one row per label, `(label, n, mean_sil)`.
    *
    * Determinism: centroids are the [[centroidEval]] fixed-point-exact
    * arrays; every cosine rounds at 4dp before a/b are formed, s rounds
    * at 4dp, and the per-label mean sums 1e-4 atoms as longs — ONE final
    * division. Conventions: a = b = 0 (a vector ON two centroids) scores
    * 0; a single-label corpus has no "other" centroid → mean_sil null.
    *
    * Scale: same shape as [[centroidEval]] — one |rows|×|dims| reduce to
    * the centroid grid, a |labels|-row broadcast, per-row fused cosine
    * loops, then one |labels|-sized aggregate.
    */
  def silhouette(emb: DataFrame, vecCol: String = "embedding",
      labelCol: String = "label", idCol: String = "vec_id"): DataFrame = {
    val base = emb
      .where(col(labelCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol), col(labelCol).as("label"),
        col(vecCol).cast("array<double>").as("v"))
    val cent = base
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("x") * lit(1000000), 0).cast("long")).as("sa"),
        count(lit(1)).as("cnt"))
      .select(col("label"), col("dim"),
        (col("sa").cast("double") / col("cnt").cast("double") / lit(1000000))
          .as("c"))
      .groupBy(col("label"))
      .agg(sort_array(collect_list(struct(col("dim"), col("c")))).as("sc"))
      .select(col("label").as("c_label"),
        transform(col("sc"), s => s("c")).as("cvec"))
    val scored = base
      .crossJoin(broadcast(cent))
      .select(col(idCol), col("label"), col("c_label"),
        (lit(1.0) - round(cosine(col("v"), col("cvec")), 4)).as("d"))
    val s = scored
      .groupBy(col(idCol), col("label"))
      .agg(min(when(col("label") === col("c_label"), col("d"))).as("a"),
        min(when(col("label") =!= col("c_label"), col("d"))).as("b"))
      .select(col("label"),
        when(col("b").isNull, lit(null).cast("double"))
          .when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
          .otherwise(round((col("b") - col("a")) / greatest(col("a"), col("b")), 4))
          .as("s"))
    s.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(round(col("s") * lit(10000), 0).cast("long")).cast("double")
          / lit(10000) / count(col("s")).cast("double"), 4).as("mean_sil"))
      .orderBy(col("label"))
  }

  /** DuckDB mirror of [[silhouette]] — generated; same fixed-point
    * centroids, 4dp distances, and atom-summed mean.
    */
  def silhouetteSql(table: String, vecCol: String = "embedding",
      labelCol: String = "label", idCol: String = "vec_id"): String =
    s"""WITH e AS (
       |  SELECT $idCol AS vec_id, $labelCol AS label,
       |    CAST($vecCol AS DOUBLE[]) AS v
       |  FROM $table
       |  WHERE $labelCol IS NOT NULL AND $vecCol IS NOT NULL
       |), atoms AS (
       |  SELECT label, unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x
       |  FROM e
       |), cm AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
       |      / COUNT(*) / 1000000 AS c
       |  FROM atoms GROUP BY 1, 2
       |), cent AS (
       |  SELECT label AS c_label, list(c ORDER BY dim) AS cvec FROM cm GROUP BY 1
       |), scored AS (
       |  SELECT e.vec_id, e.label, c.c_label,
       |    1.0 - round(list_cosine_similarity(e.v, c.cvec), 4) AS d
       |  FROM e CROSS JOIN cent c
       |), ab AS (
       |  SELECT vec_id, label,
       |    MIN(CASE WHEN label = c_label THEN d END) AS a,
       |    MIN(CASE WHEN label <> c_label THEN d END) AS b
       |  FROM scored GROUP BY 1, 2
       |), sil AS (
       |  SELECT label,
       |    CASE WHEN b IS NULL THEN NULL
       |         WHEN GREATEST(a, b) = 0.0 THEN 0.0
       |         ELSE round((b - a) / GREATEST(a, b), 4) END AS s
       |  FROM ab
       |)
       |SELECT label, COUNT(*) AS n,
       |  round(CAST(SUM(CAST(round(s * 10000) AS BIGINT)) AS DOUBLE)
       |    / 10000 / COUNT(s), 4) AS mean_sil
       |FROM sil GROUP BY label ORDER BY label""".stripMargin
}
