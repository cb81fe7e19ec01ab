package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Collocation mining: corpus-level PMI over adjacent token pairs — the
  * standard phrase-extraction signal (Church & Hanks 1990) a curation
  * pipeline uses to find multi-word units before vocabulary construction.
  * Tokenization is the corpus convention shared with TextStats.wordFreq
  * (lower, trim, whitespace split, empties dropped) so unigram counts here
  * agree with e04's.
  *
  * Determinism (Reference scaladoc rules): counts are exact longs; the PMI
  * ratio is built from those longs with a FIXED association
  * `((c_xy·N)·N) / ((N_bi·c_x)·c_y)` so both engines round identically at
  * every IEEE step, and the final `round(ln(·), 4)` fixed-points the one
  * libm call. Output carries a total ORDER BY (pmi desc, w1, w2).
  *
  * Scale: ONE corpus scan. Unigrams and bigrams explode from the same pass
  * tagged by a null w2 and aggregate in one (w1, w2) shuffle; the count
  * table is vocab-sized (not corpus-sized), so it is pinned and the four
  * consumers (pair rows, the two unigram join sides, the totals row) scan
  * the pinned leaf instead of re-scanning the corpus — AQE's stage
  * reuse alone deduplicates only one of the four branches (measured), which
  * at 100 TB is three wasted corpus scans. Asserted in CollocationsSpec.
  * The unigram table and the 1-row totals are broadcast; the only shuffled
  * payload after the count pass is the minCount-filtered pair table.
  */
object Collocations {

  /** TextStats.wordFreq's tokenization, kept in lockstep with the e04
    * oracle: `string_split_regex(lower(trim(text)), '\s+')`, empties out.
    */
  private def toks(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => length(t) > 0)

  /** Top-k adjacent-pair collocations by pointwise mutual information:
    * pmi(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) = c_xy/N_bi over
    * bigram occurrences and p(x) = c_x/N_uni over token occurrences.
    * `minCount` drops rare pairs before the joins (PMI's classic
    * low-frequency instability — and the bulk of the pair table).
    */
  def pmiBigrams(docs: DataFrame, textCol: String = "text",
      minCount: Long = 5L, topK: Int = 100): DataFrame = {
    val tk = toks(col(textCol))
    val nBi = greatest(size(tk) - lit(1), lit(0)) // slice len must be >= 0
    val unigrams = transform(tk,
      t => struct(t.as("w1"), lit(null).cast("string").as("w2")))
    val bigrams = zip_with(slice(tk, lit(1), nBi), slice(tk, lit(2), nBi),
      (a, b) => struct(a.as("w1"), b.as("w2")))

    val counts = docs
      .select(explode(concat(unigrams, bigrams)).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.ops.Layout.pin)

    val cx = counts.where(col("w2").isNull).select(col("w1").as("w"), col("c"))
    val pairs = counts.where(col("w2").isNotNull && col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c").as("c_xy"))
    val totals = counts.agg(
      sum(when(col("w2").isNull, col("c"))).as("n_uni"),
      sum(when(col("w2").isNotNull, col("c"))).as("n_bi"))

    pairs
      .join(broadcast(cx.select(col("w").as("w_a"), col("c").as("c_x"))),
        col("w1") === col("w_a"))
      .join(broadcast(cx.select(col("w").as("w_b"), col("c").as("c_y"))),
        col("w2") === col("w_b"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_xy"),
        round(log(
          (col("c_xy").cast("double") * col("n_uni") * col("n_uni")) /
            (col("n_bi").cast("double") * col("c_x") * col("c_y"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** The DuckDB mirror of [[pmiBigrams]], generated with the same minCount /
    * topK so the constants cannot drift. Same fixed association in the
    * ratio; DuckDB lists are 1-based, `generate_series(1, 0)` is empty.
    */
  def pmiBigramsSql(table: String, textCol: String = "text",
      minCount: Long = 5L, topK: Int = 100): String =
    s"""WITH toks AS (
       |  SELECT list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
       |    t -> length(t) > 0) AS tk
       |  FROM $table
       |), uni AS (
       |  SELECT w, COUNT(*) AS c FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
       |), big AS (
       |  SELECT b['w1'] AS w1, b['w2'] AS w2, COUNT(*) AS c_xy FROM (
       |    SELECT unnest(list_transform(generate_series(1, len(tk)-1),
       |      i -> {'w1': tk[i], 'w2': tk[i+1]})) AS b FROM toks)
       |  GROUP BY 1, 2
       |), totals AS (
       |  SELECT CAST((SELECT SUM(c) FROM uni) AS BIGINT) AS n_uni,
       |         CAST((SELECT SUM(c_xy) FROM big) AS BIGINT) AS n_bi
       |)
       |SELECT b.w1, b.w2, b.c_xy,
       |  round(ln((CAST(b.c_xy AS DOUBLE) * t.n_uni * t.n_uni) /
       |           (CAST(t.n_bi AS DOUBLE) * u1.c * u2.c)), 4) AS pmi
       |FROM big b CROSS JOIN totals t
       |JOIN uni u1 ON b.w1 = u1.w
       |JOIN uni u2 ON b.w2 = u2.w
       |WHERE b.c_xy >= $minCount
       |ORDER BY pmi DESC, w1, w2 LIMIT $topK""".stripMargin
}
