package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL-text ↔ Column-API parity for the custom expressions (SURVEY.md §3
  * EP2: both forms are first-class). Every registered function must produce
  * bit-identical results through `spark.sql` and the Scala API.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    GraftExtensions.register(s)
    s
  }

  private lazy val docs = {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text about spark engines and columnar io"),
      (3L, "one two"),
      (4L, "")).toDF("doc_id", "text")
    df.createOrReplaceTempView("ge_docs")
    df
  }

  test("SQL minhash_sig matches the Column API bit-for-bit (3-arg and 1-arg)") {
    val api = docs.select(col("doc_id"),
        graft.functions.MinHash.minhashSig(col("text"), 3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaSql = spark.sql(
        "SELECT doc_id, minhash_sig(text, 3, 16) AS sig FROM ge_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(api == viaSql)
    // 1-arg form defaults to (3, 16), same as the Column API defaults
    val viaSqlDefault = spark.sql("SELECT doc_id, minhash_sig(text) AS sig FROM ge_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(api == viaSqlDefault)
  }

  test("minhash_sig SQL form rejects non-literal shape arguments") {
    docs // force view registration
    val e = intercept[Exception](spark.sql(
      "SELECT minhash_sig(text, CAST(doc_id AS INT), 16) FROM ge_docs").collect())
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("SQL shingle_set matches the Column API bit-for-bit") {
    val api = docs.select(col("doc_id"),
        graft.ext.Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val viaSql = spark.sql("SELECT doc_id, shingle_set(text, 3) AS sh FROM ge_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(api == viaSql)
    val viaDefault = spark.sql("SELECT doc_id, shingle_set(text) AS sh FROM ge_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(api == viaDefault)
  }

  test("SQL scrub_pii matches TextStats.scrubPii exactly") {
    import spark.implicits._
    val pii = Seq(
      (1L, "mail a@b.co or visit https://x.y/z?u=a@b.co call +1 (555) 123-4567"),
      (2L, "clean text, no entities, version 2.0"))
      .toDF("doc_id", "text")
    pii.createOrReplaceTempView("ge_pii")
    val api = pii.select(col("doc_id"), graft.ext.TextStats.scrubPii(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaSql = spark.sql("SELECT doc_id, scrub_pii(text) AS t FROM ge_pii")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(api == viaSql)
    assert(api(1L).contains("<EMAIL>") && api(1L).contains("<URL>") && api(1L).contains("<PHONE>"))
    assert(api(2L) == "clean text, no entities, version 2.0")
  }

  test("SQL hamming_dist matches Dedup.hammingDist on simhash64 fingerprints") {
    docs
    val api = docs.as("a").crossJoin(docs.as("b"))
      .select(col("a.doc_id"), col("b.doc_id"),
        graft.ext.Dedup.hammingDist(
          graft.functions.SimHash.simhash64(col("a.text")),
          graft.functions.SimHash.simhash64(col("b.text"))).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val viaSql = spark.sql(
        """SELECT a.doc_id, b.doc_id,
          |  hamming_dist(simhash64(a.text), simhash64(b.text)) AS d
          |FROM ge_docs a CROSS JOIN ge_docs b""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(api == viaSql)
    assert(viaSql((1L, 1L)) == 0)
  }
}
