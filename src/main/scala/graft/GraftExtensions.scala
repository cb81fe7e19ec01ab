package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, BitwiseXor, Expression, ExpressionInfo, Literal, RegExpReplace}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MinHashSig, SimHash64}

/** Session-extension registration: makes the library's custom Catalyst
  * expressions first-class SQL functions, so both API forms the engine
  * supports (DataFrame chains and SQL text — SURVEY.md §3 EP2) can reach
  * them:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  *   spark.sql("SELECT simhash64(text) FROM docs")
  *
  * or `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster.
  * [[GraftExtensions.register]] does the same for an already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  /** minhash_sig's shingleSize/k are expression-tree STRUCTURE (they size
    * the signature array and the codegen loop), so the SQL form requires
    * them as literal integers — same contract as e.g. `approx_percentile`'s
    * accuracy argument.
    */
  private def litInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable && e.dataType == org.apache.spark.sql.types.IntegerType,
      s"$fn: $arg must be a literal integer, got ${e.sql}")
    e.eval().asInstanceOf[Int]
  }

  private val functions: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs.head)),
    // minhash_sig(text, shingleSize, k) — 1-arg and 3-arg forms, defaults
    // matching the Column API (graft.functions.MinHash.minhashSig)
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(text) => MinHashSig(text, 3, 16)
        case Seq(text, sh, k) =>
          MinHashSig(text, litInt(sh, "minhash_sig", "shingleSize"),
            litInt(k, "minhash_sig", "k"))
        case _ => throw new IllegalArgumentException(
          s"minhash_sig takes 1 or 3 arguments, got ${exprs.length}")
      }),
    // hamming_dist(a, b) over packed 64-bit fingerprints (e.g. simhash64) —
    // composed from built-in codegen'd expressions, registered for SQL-text
    // parity with graft.ext.Dedup.hammingDist
    ("hamming_dist",
      new ExpressionInfo(classOf[BitwiseCount].getName, "hamming_dist"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => BitwiseCount(BitwiseXor(a, b))
        case _ => throw new IllegalArgumentException(
          s"hamming_dist takes 2 arguments, got ${exprs.length}")
      }),
    // shingle_set(text[, n]) — distinct word shingles, the native
    // expression behind Dedup.shingles (n is tree structure → literal)
    ("shingle_set",
      new ExpressionInfo(classOf[graft.functions.ShingleSet].getName, "shingle_set"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(text) => graft.functions.ShingleSet(text, 3)
        case Seq(text, n) =>
          graft.functions.ShingleSet(text, litInt(n, "shingle_set", "n"))
        case _ => throw new IllegalArgumentException(
          s"shingle_set takes 1 or 2 arguments, got ${exprs.length}")
      }),
    // cosine_sim(a, b) — fused-loop cosine over two array<double> vectors,
    // SQL-text parity with graft.ext.Similarity.cosine
    ("cosine_sim",
      new ExpressionInfo(classOf[graft.functions.CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => graft.functions.CosineSim(a, b)
        case _ => throw new IllegalArgumentException(
          s"cosine_sim takes 2 arguments, got ${exprs.length}")
      }),
    // jaro_winkler(a, b) — native prefix-boosted Jaro similarity (entity
    // resolution / fuzzy matching), SQL-text parity with
    // graft.functions.JaroWinkler.jaroWinkler
    ("jaro_winkler",
      new ExpressionInfo(classOf[graft.functions.JaroWinkler].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => graft.functions.JaroWinkler(a, b)
        case _ => throw new IllegalArgumentException(
          s"jaro_winkler takes 2 arguments, got ${exprs.length}")
      }),
    // scrub_pii(text) — the C4-style email/URL/phone redaction chain,
    // SQL-text parity with graft.ext.TextStats.scrubPii (same patterns,
    // same order; built from RegExpReplace so it stays codegen'd)
    ("scrub_pii",
      new ExpressionInfo(classOf[RegExpReplace].getName, "scrub_pii"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(text) =>
          def lit(s: String) = Literal(UTF8String.fromString(s),
            org.apache.spark.sql.types.StringType)
          RegExpReplace(
            RegExpReplace(
              RegExpReplace(text,
                lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
              lit("https?://[^\\s]+|www\\.[^\\s]+"), lit("<URL>")),
            lit("\\+?[0-9][0-9()\\s.-]{7,}[0-9]"), lit("<PHONE>"))
        case _ => throw new IllegalArgumentException(
          s"scrub_pii takes 1 argument, got ${exprs.length}")
      }))

  /** Register on a live session (tests / notebook use). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
