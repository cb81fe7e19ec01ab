package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The quick brown fox jumps over the lazy dog  "), // near-exact (case/ws)
      (3L, "the quick brown fox jumps over the lazy cat"), // one token differs
      (4L, "completely different text about spark engines and columnar io"),
      (5L, "the quick brown fox jumps over the lazy dog")) // exact copy of 1
      .toDF("doc_id", "text")
  }

  test("exact dedup groups normalized-identical docs and keeps the min id") {
    val got = Dedup.exact(docs).orderBy(col("keeper_id")).collect()
    // 1,2,5 normalize identically -> one group with keeper 1, n=3
    assert(got.length == 3)
    val g = got.find(_.getLong(1) == 1L).get
    assert(g.getLong(2) == 3L)
    val rows = Dedup.exactRows(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 3L, 4L))
  }

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val once = Dedup.exactRows(docs)
    val twice = Dedup.exactRows(once)
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).count() == 0)
  }

  test("simhash: identical text -> identical hash; near text -> small hamming; far -> large") {
    val h = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(5L))
    assert(h(1L) == h(2L)) // normalization folds case/whitespace
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)),
      s"near ${ham(h(1L), h(3L))} !< far ${ham(h(1L), h(4L))}")
  }

  test("native SimHash64 expression is bit-identical to the HOF formulation") {
    val both = docs.select(
      Dedup.simhash(col("text")).as("hof"),
      graft.functions.SimHash.simhash64(col("text")).as("native"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"HOF ${r.getLong(0)} != native ${r.getLong(1)}"))
    // also on real corpus text + edge cases
    import spark.implicits._
    val edge = Seq("", "   ", "one", "a  b\tc").toDF("text")
    edge.select(Dedup.simhash(col("text")), graft.functions.SimHash.simhash64(col("text")))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhashMd5 portable fingerprint: copies agree, near/far ordering holds, empty -> 0") {
    import spark.implicits._
    val h = docs.select(col("doc_id"), Dedup.simhashMd5(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(5L) && h(1L) == h(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)),
      s"near ${ham(h(1L), h(3L))} !< far ${ham(h(1L), h(4L))}")
    // 60-bit budget: no fingerprint can set bits 60-63
    assert(h.values.forall(v => (v >>> 60) == 0L))
    // tokenless docs pack to 0 (empty aggregate over the init array), the
    // value the generated mirror's LEFT JOIN + COALESCE reproduces
    val edge = Seq("", "   ").toDF("text")
      .select(Dedup.simhashMd5(col("text"))).collect()
    assert(edge.forall(_.getLong(0) == 0L))
  }

  test("minhashNearDupMd5 portable pairs: verified scores, same verdicts as native on real docs") {
    val pairs = Dedup.minhashNearDupMd5(docs, minJaccard = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 5L)).contains(1.0), s"missing exact pair in $pairs")
    assert(pairs.get((1L, 2L)).contains(1.0))
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc paired: $pairs")
    // pair-set equivalence with the xxhash64 fast path on the doubled real
    // corpus at the e84 operating point: different hash families draw
    // different band permutations, but at threshold 0.7 over this corpus
    // both candidate sets cover every true pair, and verification makes the
    // emitted (pair, score) sets — not just their sizes — identical
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val doubled = real.unionAll(real.withColumn("doc_id", col("doc_id") + 100000L))
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val portable = asSet(Dedup.minhashNearDupMd5(doubled, minJaccard = 0.7))
    val native = asSet(Dedup.minhashNearDupNative(doubled, minJaccard = 0.7))
    assert(portable == native,
      s"portable minus native: ${portable -- native}; native minus portable: ${native -- portable}")
  }

  test("native MinHashSig expression is bit-identical to the HOF signature fold") {
    import spark.implicits._
    val corpus = docs.select(col("text"))
      .unionAll(Seq("", "   ", "one two", "a b c d e").toDF("text"))
    val withSh = corpus.select(col("text"), Dedup.shingles(col("text"), 3).as("sh"))
    val hof = withSh.select(
      array(Dedup.minhashSignature(col("sh"), 16): _*).as("sig_hof"),
      graft.functions.MinHash.minhashSig(col("text"), 3, 16).as("sig_native"))
    hof.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"HOF ${r.getSeq[Long](0)} != native ${r.getSeq[Long](1)}")
    }
  }

  test("native MinHashSigMd5 expression is bit-identical to the HOF md5 fold") {
    import spark.implicits._
    // real docs + edges: unicode multibyte shingles (the digest runs over
    // raw UTF-8 bytes), single-shingle doc, long doc — plus the sf0.001
    // corpus for breadth. Empty-shingle docs are filtered upstream by every
    // caller; the expression itself folds an empty array to MaxValue like
    // the HOF aggregate's init.
    val corpus = docs.select(col("text"))
      .unionAll(Seq("one two three", "héllo wörld ünïcode ţest",
        "a b c d e f g h i j k l m n o p q r s t").toDF("text"))
      .unionAll(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("text")))
    val withSh = corpus.select(Dedup.shingles(col("text"), 3).as("sh"))
    val both = withSh.select(
      array(Dedup.minhashSignatureMd5(col("sh"), 16): _*).as("sig_hof"),
      graft.functions.MinHashMd5.minhashSigMd5(col("sh"), 16).as("sig_native"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"HOF ${r.getSeq[Long](0)} != native ${r.getSeq[Long](1)}")
    }
  }

  test("native minhash LSH finds exact/near duplicates with verified jaccard") {
    val pairs = Dedup.minhashNearDupNative(docs, minJaccard = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 5L)).contains(1.0), s"missing exact pair in $pairs")
    assert(pairs.get((1L, 2L)).contains(1.0)) // normalization folds case/ws
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $pairs")
  }

  test("minhash native: degenerate bucket (300 identical docs) loses no pairs uncapped") {
    import spark.implicits._
    // 300 identical docs > the old silent 256-member cap: every one of the
    // C(300,2) pairs must survive — the id-only bucket shape makes this a
    // 2.4 KB aggregation row, not 300 shingle arrays.
    val clones = (1L to 300L).map(i => (i, "all work and no play makes jack a dull boy"))
      .toDF("doc_id", "text")
    val n = Dedup.minhashNearDupNative(clones, minJaccard = 0.99).count()
    assert(n == 300L * 299L / 2, s"expected ${300 * 299 / 2} pairs, got $n")
    // the engine-portable md5 form keeps the same full clique
    val m = Dedup.minhashNearDupMd5(clones, minJaccard = 0.99).count()
    assert(m == 300L * 299L / 2, s"md5: expected ${300 * 299 / 2} pairs, got $m")
  }

  test("ngram jaccard: exact copy scores 1.0, near copy high, unrelated absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 5L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("native ShingleSet is bit-identical to the HOF shingles on real + edge data") {
    import spark.implicits._
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edge = Seq("", " ", "one", "one two", "a b a b a b", "  A  B\tC  d  ",
      "x y z x y z x y z").toDF("text")
    Seq(real, edge).foreach { df =>
      val rows = df.select(
        Dedup.shingles(col("text"), 3).as("native"),
        Dedup.shinglesHof(col("text"), 3).as("hof")).collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}"))
      // order matters: array_distinct keeps first occurrence — so must the native
      val r1 = df.select(Dedup.shingles(col("text"), 1).as("n"),
        Dedup.shinglesHof(col("text"), 1).as("h")).collect()
      r1.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
      // the ordered-multiset native twin: repeats and positions preserved
      Seq(2, 3).foreach { n =>
        val rm = df.select(Dedup.ngramsOrdered(col("text"), n).as("nat"),
          Dedup.ngramsOrderedHof(col("text"), n).as("hof")).collect()
        rm.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"n=$n native=${r.getSeq[String](0)} hof=${r.getSeq[String](1)}"))
      }
    }
  }

  test("prefix-filtered ngram jaccard is exactly the naive all-pairs result on the real corpus") {
    // zero-loss contract of the AllPairs prefix + length filters: same pairs,
    // same scores as brute force over every doc pair, on the real documents
    // table doubled (so exact dups exist) at a mid threshold
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val doubled = d.unionAll(d.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val got = Dedup.ngramJaccardPairs(doubled, minJaccard = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sh = doubled.select(col("doc_id").as("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .where(size(col("sh")) > 0)
    val common = size(array_intersect(col("sh_a"), col("sh_b")))
    val naive = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (common.cast("double") / (size(col("sh_a")) + size(col("sh_b")) - common)).as("j"))
      .where(col("j") >= 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(naive.nonEmpty)
    assert(got == naive,
      s"missing=${naive.keySet -- got.keySet} extra=${got.keySet -- naive.keySet}")
  }

  test("PPJoin prefixFilter jaccard ≡ default path: same pairs, same scores (exact recall)") {
    // the round-13 scale path: df-ordered prefix + positional filtering is
    // EXACT (no recall contract, unlike a df cap) — pin it against the
    // default path on the real doubled corpus at two thresholds
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val doubled = d.unionAll(d.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    for (t <- Seq(0.4, 0.8)) {
      val plain = Dedup.ngramJaccardPairs(doubled, minJaccard = t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val pf = Dedup.ngramJaccardPairs(doubled, minJaccard = t, prefixFilter = true)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(plain.nonEmpty)
      assert(pf == plain,
        s"t=$t missing=${plain.keySet -- pf.keySet} extra=${pf.keySet -- plain.keySet}")
    }
  }

  test("prefixFilter keeps the boilerplate-only pair the df cap drops (exactness, not a contract)") {
    import spark.implicits._
    // (100, 101) qualify ONLY via df=22 boilerplate shingles — a df cap
    // drops them by design, the prefix filter must keep them because it is
    // exact
    val boiler = "please read our terms of service"
    val corpus = ((1L to 20L).map(i => (i, s"$boiler filler$i")) ++ Seq(
        (100L, s"$boiler appendix"),
        (101L, s"$boiler glossary")))
      .toDF("doc_id", "text")
    val plain = Dedup.ngramJaccardPairs(corpus, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val pf = Dedup.ngramJaccardPairs(corpus, minJaccard = 0.5, prefixFilter = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pf == plain,
      s"missing=${plain.keySet -- pf.keySet} extra=${pf.keySet -- plain.keySet}")
    assert(pf.contains((100L, 101L)))
  }

  test("prefixFilter jaccard ≡ default on 120 randomized docs (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val base = (1L to 60L).map { i =>
      (i, Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // plant near-copies: append one token to every third doc
    val docs = (base ++ base.collect { case (i, t) if i % 3 == 0 =>
      (i + 1000L, s"$t ${vocab(rnd.nextInt(vocab.size))}") }).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.6)) {
      val plain = Dedup.ngramJaccardPairs(docs, minJaccard = t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val pf = Dedup.ngramJaccardPairs(docs, minJaccard = t, prefixFilter = true)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(pf == plain,
        s"t=$t missing=${plain.keySet -- pf.keySet} extra=${pf.keySet -- plain.keySet}")
    }
  }

  test("prefixDfCap jaccard ≡ default when the audit is empty; template-clique loss audited") {
    import spark.implicits._
    // round-15: the e106 witness-counted generator on the symmetric family.
    // (a) equivalence where the audit is empty — real doubled corpus and
    // the seeded randomized corpus, two thresholds each
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val doubled = d.unionAll(d.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    for (t <- Seq(0.4, 0.8)) {
      assert(Dedup.ngramJaccardAtRisk(doubled, minJaccard = t,
        prefixDfCap = 2000).count() == 0L)
      val plain = Dedup.ngramJaccardPairs(doubled, minJaccard = t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val capped = Dedup.ngramJaccardPairs(doubled, minJaccard = t, prefixDfCap = 2000)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(plain.nonEmpty)
      assert(capped == plain,
        s"t=$t missing=${plain.keySet -- capped.keySet} extra=${capped.keySet -- plain.keySet}")
    }
    // (b) the worst case — a template clique whose rarest shingles are
    // still over-cap: losses confined to the clique, audit names exactly
    // its members, raising the cap clears both
    val template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val small = "omega psi chi phi upsilon tau sigma rho pi omicron"
    val docs = ((1L to 30L).map(i => (i, template)) ++
      (101L to 105L).map(i => (i, small))).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val un = pairsOf(Dedup.ngramJaccardPairs(docs, minJaccard = 0.9))
    val cap = pairsOf(Dedup.ngramJaccardPairs(docs, minJaccard = 0.9, prefixDfCap = 10))
    assert(cap.subsetOf(un), s"extra=${cap -- un}")
    assert((101L to 105L).combinations(2).map(s => (s(0), s(1))).forall(cap.contains))
    val lost = un -- cap
    assert(lost.nonEmpty && lost.forall { case (a, b) => a <= 30L && b <= 30L })
    val atRisk = Dedup.ngramJaccardAtRisk(docs, minJaccard = 0.9, prefixDfCap = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(atRisk == (1L to 30L).toSet, atRisk.toString)
    assert(Dedup.ngramJaccardAtRisk(docs, minJaccard = 0.9, prefixDfCap = 30).count() == 0L)
    assert(pairsOf(Dedup.ngramJaccardPairs(docs, minJaccard = 0.9, prefixDfCap = 30)) == un)
    // mode exclusivity is refused loudly, as in the containment family
    assertThrows[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, minJaccard = 0.9, prefixDfCap = 10, prefixFilter = true)
    }
  }

  test("prefixFilter containment ≡ default path on planted excerpts (exact recall)") {
    // the e106 shape: half-length excerpts are fully contained in their
    // originals; prefix mode (smaller-side prefix vs full index) must land
    // on exactly the same directional scores as the default path
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    val k = greatest(floor(size(toks) / 2), lit(3)).cast("int")
    val exc = d.select((col("doc_id") + 200000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), k)).as("text"))
    val corpus = d.unionAll(exc)
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    for (t <- Seq(0.7, 0.9)) {
      val plain = collectPairs(Dedup.ngramContainmentPairs(corpus, minContainment = t))
      val pf = collectPairs(
        Dedup.ngramContainmentPairs(corpus, minContainment = t, prefixFilter = true))
      assert(plain.nonEmpty)
      assert(pf == plain,
        s"t=$t missing=${plain.keySet -- pf.keySet} extra=${pf.keySet -- plain.keySet}")
      // the capped-prefix scale path: the audit is EMPTY on this corpus
      // (every prefix shingle under the cap), so the result is provably
      // identical to the uncapped operator's — and must be, bit for bit
      assert(Dedup.ngramContainmentAtRisk(corpus, minContainment = t,
        prefixDfCap = 2000).count() == 0L)
      val capped = collectPairs(Dedup.ngramContainmentPairs(
        corpus, minContainment = t, prefixDfCap = 2000))
      assert(capped == plain,
        s"t=$t missing=${plain.keySet -- capped.keySet} extra=${capped.keySet -- plain.keySet}")
    }
    // the witness path on the doubled corpus (exact copies): same pairs as
    // the default path, and not vacuously
    val doubled = d.unionAll(d.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val plainDoubled = collectPairs(Dedup.ngramContainmentPairs(doubled, minContainment = 0.9))
    assert(plainDoubled.nonEmpty)
    assert(collectPairs(Dedup.ngramContainmentPairs(doubled, minContainment = 0.9,
      prefixDfCap = 2000)) == plainDoubled)
  }

  test("prefixDfCap containment: candidate superset under the cap, audit names every exposed doc") {
    import spark.implicits._
    // a 30-doc TEMPLATE CLIQUE (identical text → every shingle df=30, so
    // each member's ENTIRE rarest-prefix is over a cap of 10 — the worst
    // case for prefix filtering, where even the rarest shingles are dense),
    // a 5-doc clique under the cap, and a distinct doc + its half excerpt
    val template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val small = "omega psi chi phi upsilon tau sigma rho pi omicron"
    val docs = ((1L to 30L).map(i => (i, template)) ++
      (101L to 105L).map(i => (i, small)) ++ Seq(
        (200L, "one two three four five six seven eight nine ten eleven twelve"),
        (201L, "one two three four five six"))).toDF("doc_id", "text")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val un = pairsOf(Dedup.ngramContainmentPairs(docs, minContainment = 0.9))
    val cap = pairsOf(Dedup.ngramContainmentPairs(docs, minContainment = 0.9,
      prefixDfCap = 10))
    // never a false positive: capped output ⊆ uncapped (exact re-score)
    assert(cap.subsetOf(un), s"extra=${cap -- un}")
    // the under-cap clique and the excerpt pair survive in full
    assert((101L to 105L).combinations(2).map(s => (s(0), s(1))).forall(cap.contains))
    assert(cap.contains((200L, 201L)))
    // the over-cap clique's pairs are exactly what's lost...
    val lost = un -- cap
    assert(lost.nonEmpty && lost.forall { case (a, b) => a <= 30L && b <= 30L })
    // ...and the audit names exactly the clique members, nobody else
    val atRisk = Dedup.ngramContainmentAtRisk(docs, minContainment = 0.9,
      prefixDfCap = 10).select("id").collect().map(_.getLong(0)).toSet
    assert(atRisk == (1L to 30L).toSet, atRisk.toString)
    // raising the cap above the clique df clears the audit AND the loss
    assert(Dedup.ngramContainmentAtRisk(docs, minContainment = 0.9,
      prefixDfCap = 30).count() == 0L)
    assert(pairsOf(Dedup.ngramContainmentPairs(docs, minContainment = 0.9,
      prefixDfCap = 30)) == un)
  }

  /** The sf0.001 documents plus an offset copy (exact duplicates exist),
    * and the excerpt corpus of e106 (half-length excerpts are contained).
    */
  private def realCorpora: Seq[org.apache.spark.sql.DataFrame] = {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val toks = split(trim(col("text")), "\\s+")
    val k = greatest(floor(size(toks) / 2), lit(3)).cast("int")
    Seq(d.unionAll(d.select((col("doc_id") + 100000L).as("doc_id"), col("text"))),
      d.unionAll(d.select((col("doc_id") + 200000L).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), k)).as("text"))))
  }

  test("a 2×-loaded input (same id and text twice) gives the single load's pairs, both families") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    realCorpora.foreach { once =>
      val twice = once.unionAll(once)
      val jaccard = (c: org.apache.spark.sql.DataFrame) =>
        rows(Dedup.ngramJaccardPairs(c, minJaccard = 0.8, prefixDfCap = 1000))
      val containment = (c: org.apache.spark.sql.DataFrame) =>
        rows(Dedup.ngramContainmentPairs(c, minContainment = 0.9, prefixDfCap = 2000))
      val prefix = (c: org.apache.spark.sql.DataFrame) =>
        rows(Dedup.ngramJaccardPairs(c, minJaccard = 0.8, prefixFilter = true))
      Seq(jaccard, containment, prefix).foreach { pairs =>
        val want = pairs(once)
        assert(want.nonEmpty)
        assert(pairs(twice).sortBy(_.toString) == want.sortBy(_.toString))
      }
    }
  }

  test("witness path: no broadcast, and the keyed shingle pin is never shuffled") {
    realCorpora.foreach { corpus =>
      val o = graft.PlanProbe.observe(spark) {
        Dedup.ngramJaccardPairs(corpus, minJaccard = 0.8, prefixDfCap = 1000).collect()
        Dedup.ngramContainmentPairs(corpus, minContainment = 0.9, prefixDfCap = 2000)
          .collect()
      }
      assert(o.plans.size >= 6, s"saw ${o.plans.size} executed plans")
      o.plans.foreach { p =>
        assert(graft.PlanProbe.broadcasts(p).isEmpty, s"broadcast in\n$p")
        assert(graft.PlanProbe.shufflesOverLeaf(p, "sh").isEmpty,
          s"exchange over the shingle pin in\n$p")
      }
    }
  }

  test("dupGroups collapses transitive chains A~B~C into one component") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // 1~2 and 2~3 but no direct 1~3 edge; 4~5 separate; nothing links the two
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val groups = Dedup.dupGroups(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L)
    assert(groups(4L) == 4L && groups(5L) == 4L)
  }

  test("large-star/small-star CC ≡ GraphX on the e11 pair graph and adversarial shapes") {
    import spark.implicits._
    // real corpus: the e11 n-gram Jaccard pair graph over sf0.001 documents
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val realPairs = Dedup.ngramJaccardPairs(corpus, minJaccard = 0.3)
      .select(col("id_a"), col("id_b"))
    val realIds = corpus.select(col("doc_id"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dfPath = asMap(Dedup.dupGroups(realIds, realPairs))
    val gxPath = asMap(GraphXComponents.groups(realIds, realPairs))
    assert(dfPath == gxPath, "DataFrame CC must match GraphX on real pairs")
    assert(dfPath.nonEmpty)
    // adversarial shapes: a long path (forces multiple alternation rounds),
    // a clique, singletons, an edge endpoint absent from allIds, self-loops,
    // one edge listed in both orientations, a repeated edge, and a 200-leaf
    // star whose hub is one hot key (its leaves sit on both sides of it)
    val ids = (1L to 12L).toDF("doc_id")
    val path = (20L to 27L).sliding(2).map(s => (s(1), s(0))).toSeq // 20..27 chain, absent from ids
    val hub = 1100L
    val star = ((1000L until hub) ++ (hub + 1 to hub + 100)).zipWithIndex
      .map { case (leaf, j) => if (j % 2 == 0) (hub, leaf) else (leaf, hub) }
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), // path graph
      (8L, 9L), (9L, 10L), (8L, 10L), // triangle
      (7L, 7L), (3L, 3L), (30L, 30L), // self-loops: singleton, path node, outside allIds
      (11L, 12L), (12L, 11L), // both orientations
      (9L, 8L), (8L, 9L)) ++ path ++ star) // repeated edge + external chain + star
      .toDF("id_a", "id_b")
    val got = asMap(Dedup.dupGroups(ids, pairs))
    val gx = asMap(GraphXComponents.groups(ids, pairs))
    assert(got == gx, "shape graphs must match GraphX exactly")
    (1L to 6L).foreach(i => assert(got(i) == 1L))
    assert(got(7L) == 7L && got(30L) == 30L) // self-loop only: own group
    assert(got(11L) == 11L && got(12L) == 11L)
    Seq(8L, 9L, 10L).foreach(i => assert(got(i) == 8L))
    (20L to 27L).foreach(i => assert(got(i) == 20L)) // endpoints outside allIds
    assert(star.size == 200)
    (1000L to hub + 100).foreach(i => assert(got(i) == 1000L))
    // empty pair list: everyone is their own group
    val none = asMap(Dedup.dupGroups(ids, pairs.where(lit(false))))
    assert(none == (1L to 12L).map(i => i -> i).toMap)
    assert(none == asMap(GraphXComponents.groups(ids, pairs.where(lit(false)))))
  }

  test("nearDedupRows keeps one doc per near-dup cluster") {
    // 1,2,5 normalize-identical; 3 near (jaccard ~0.7 on shingles); 4 unique
    val kept = Dedup.nearDedupRows(docs, minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(4L))
    assert(kept.contains(1L))
    assert(!kept.contains(2L) && !kept.contains(5L)) // folded into 1's cluster
    assert(kept.size <= 3)
  }

  test("dupGroups refuses a non-integral id column loudly") {
    import spark.implicits._
    val ids = Seq("doc-a", "doc-b").toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](Dedup.dupGroups(ids, pairs))
    assert(e.getMessage.contains("integral"), e.getMessage)
    val stringPairs = Seq(("doc-a", "doc-b")).toDF("id_a", "id_b")
    val e2 = intercept[IllegalArgumentException](
      Dedup.dupGroups(Seq(1L, 2L).toDF("doc_id"), stringPairs))
    assert(e2.getMessage.contains("integral"), e2.getMessage)
  }

  test("hyperplane literal matrix is bit-identical to the per-row hash formulation") {
    import org.apache.spark.sql.Column
    import spark.implicits._
    // the formulation embeddingNearDup used before the literals: hash (p, i)
    // inside the per-element lambda, pmod-folded to [-1, 1)
    def oldSig(vc: Column, nPlanes: Int): Column =
      (0 until nPlanes).map { p =>
        val dot = aggregate(
          zip_with(vc, sequence(lit(0), size(vc) - 1),
            (x, i) => x * (pmod(xxhash64(concat_ws(":", lit(p), i)), lit(2000001L))
              .cast("double") / 1000000.0 - 1.0)),
          lit(0.0), (s, x) => s + x)
        when(dot > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val dim = real.select(size(col("v"))).head().getInt(0)
    val planes = Dedup.hyperplanes(16, dim)
    val rows = real.select(oldSig(col("v"), 16).as("old"),
      Dedup.hyperplaneSig(col("v"), planes).as("lit")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"per-row ${r.getLong(0)} != literal ${r.getLong(1)}"))
  }

  test("embedding near-dup pairs identical vectors and skips distant ones") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(1.0f, 0.0f, 0.5f, 0.2f)), // identical
      (3L, Array(0.99f, 0.01f, 0.5f, 0.2f)), // near
      (4L, Array(-1.0f, 0.3f, -0.5f, 0.9f))) // far
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(emb, minCosine = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("editDistancePairs equals the brute-force metric, incl. bucket-straddling pairs") {
    import spark.implicits._
    // lengths 10 vs 13 straddle adjacent width-4 buckets (d=3 → w=4:
    // 10/4=2, 13/4=3) — the neighbor-bucket explode must still pair them
    val frame = Seq(
      (1L, "abcdefghij"), //          len 10
      (2L, "abcdefghijxyz"), //       len 13, dist 3 from doc 1
      (3L, "abcdefghiK"), //          len 10, dist 1 from doc 1
      (4L, "completely different")) //far from everything
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(frame, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute-force reference over all 6 pairs
    val texts = Map(1L -> "abcdefghij", 2L -> "abcdefghijxyz",
      3L -> "abcdefghiK", 4L -> "completely different")
    val brute = (for {
      a <- texts.keys; b <- texts.keys if a < b
      d = levenshteinRef(texts(a), texts(b)) if d <= 3
    } yield (a, b) -> d.toLong).toMap
    assert(got == brute, s"got $got expected $brute")
    assert(got.contains((1L, 2L)), "bucket-straddling pair lost")
  }

  test("editDistancePairs ≡ brute force across edit mixes (multi-match shift bound)") {
    import spark.implicits._
    // exercise every placement the |δ|+|Δ−δ| ≤ d probe bound must survive:
    // leading/trailing/interior insertions and deletions, pure
    // substitutions, and mixes that push δ to both extremes
    val base = "the quick brown fox jumps over lazy dogs"
    val variants = Seq(
      1L -> base,
      2L -> ("XY" + base), //                    Δ=+2 all-before
      3L -> (base + "XY"), //                    Δ=+2 all-after
      4L -> base.drop(2), //                     Δ=−2 leading deletion
      5L -> base.dropRight(2), //                Δ=−2 trailing deletion
      6L -> (base.take(10) + "ZZ" + base.drop(10)), // interior insert
      7L -> (base.take(10) + base.drop(12)), //  interior delete
      8L -> base.replace('q', 'Q').replace('x', 'X'), // pure substitutions
      9L -> ("A" + base.dropRight(1)), //        δ=+1 insert & trailing delete
      10L -> (base.drop(1) + "B")) //            δ=−1 delete & trailing insert
    val frame = variants.toDF("doc_id", "text")
    val texts = variants.toMap
    for (d <- Seq(2, 4)) {
      val got = Dedup.editDistancePairs(frame, maxDist = d)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val brute = (for {
        a <- texts.keys; b <- texts.keys if a < b
        dist = levenshteinRef(texts(a), texts(b)) if dist <= d
      } yield (a, b) -> dist.toLong).toMap
      assert(got == brute, s"d=$d got $got expected $brute")
    }
  }

  test("editDistancePairs ≡ brute force when only a LATE segment survives (index-aware bound)") {
    import spark.implicits._
    // the round-15 max(i,|δ|)+|Δ−δ| ≤ d refinement prunes probe rows by
    // SEGMENT INDEX (the "first untouched segment" argument) — stress the
    // exactness where it bites hardest: every early segment touched, so the
    // only witness is a late segment carrying the full displacement, plus a
    // seeded random edit mix for breadth
    val base = "abcdefghijklmnopqrstuvwxyz0123456789ABCD" // 41 chars, d=5 → m=6
    val rnd = new scala.util.Random(15)
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (0 until edits).foreach { _ =>
        val p = rnd.nextInt(math.max(cur.length, 1))
        rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => cur = cur.take(p) + cur.drop(p + 1) // delete
          case 1 => cur = cur.take(p) + alpha(rnd.nextInt(26)) + cur.drop(p) // insert
          case _ if cur.nonEmpty => // substitute
            cur = cur.take(p) + alpha(rnd.nextInt(26)) + cur.drop(p + 1)
          case _ => cur = cur + alpha(rnd.nextInt(26))
        }
      }
      cur
    }
    val adversarial = Seq(
      // one substitution at the START of each of segments 0..4 (touching
      // every early segment), segment 5 untouched, δ = Δ = 0
      111L -> Seq(0, 7, 14, 21, 28).foldLeft(base)((s, p) => s.updated(p, 'X')),
      // 5 leading inserts: first untouched segment shifted by δ=5=d
      112L -> ("ZZZZZ" + base),
      // 5 leading deletes: δ=−5
      113L -> base.drop(5))
    val variants = (1L to 40L).map(i => i -> mutate(base, rnd.nextInt(7))) ++
      adversarial :+ (0L -> base)
    val frame = variants.toDF("doc_id", "text")
    val texts = variants.toMap
    val got = Dedup.editDistancePairs(frame, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val brute = (for {
      a <- texts.keys; b <- texts.keys if a < b
      dist = levenshteinRef(texts(a), texts(b)) if dist <= 5
    } yield (a, b) -> dist.toLong).toMap
    assert(got == brute,
      s"missing=${brute.keySet -- got.keySet} extra=${got.keySet -- brute.keySet}")
  }

  test("editDistanceHotSegments surfaces aligned boilerplate buckets") {
    import spark.implicits._
    // 5 docs share the identical 12-char prefix (template boilerplate)
    val frame = (1L to 5L).map(i => (i, s"SHARED-HEAD-$i-unique-tail-$i"))
      .toDF("doc_id", "text")
    val hot = Dedup.editDistanceHotSegments(frame, maxDist = 3, minBucket = 3)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
    // at least the first segment (inside the shared prefix) is a hot bucket
    assert(hot.exists { case (i, sub, n) => i == 0 && n == 5 && sub.nonEmpty },
      hot.mkString(","))
  }

  test("editDistancePairs prefixLen compares only the prefix") {
    import spark.implicits._
    val frame = Seq(
      (1L, "same prefix ABCDE tail one"),
      (2L, "same prefix ABCDE completely different tail"))
      .toDF("doc_id", "text")
    val full = Dedup.editDistancePairs(frame, maxDist = 2).count()
    val pfx = Dedup.editDistancePairs(frame, maxDist = 2, prefixLen = 17).count()
    assert(full == 0 && pfx == 1)
  }

  test("editDistancePairs segment-bucket cap: scores unchanged, boilerplate-only pairs dropped") {
    import spark.implicits._
    // 6 docs: identical 'TEMPLATE-HEADER-' prefix (hot segments) + distinct
    // tails; docs 1 and 2 also share a near-identical TAIL (a real near-dup
    // signal that survives the cap via their uncapped tail segments)
    val frame = Seq(
      (1L, "aaaaaaaaaaaaaaaaaaaaaaaa-tail-one"),
      (2L, "aaaaaaaaaaaaaaaaaaaaaaaa-tail-onX"),
      (3L, "aaaaaaaaaaaaaaaaaaaaaaaa-qqqqqqqq"),
      (4L, "aaaaaaaaaaaaaaaaaaaaaaaa-wwwwwwww"),
      (5L, "aaaaaaaaaaaaaaaaaaaaaaaa-eeeeeeee"),
      (6L, "aaaaaaaaaaaaaaaaaaaaaaaa-rrrrrrrr"))
      .toDF("doc_id", "text")
    val exact = Dedup.editDistancePairs(frame, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capped = Dedup.editDistancePairs(frame, maxDist = 5, maxSegmentBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // capped is a subset with IDENTICAL distances on surviving pairs
    assert(capped.keySet.subsetOf(exact.keySet))
    capped.foreach { case (k, v) => assert(exact(k) == v) }
    // the genuine near-dup (1,2) must survive: its tail segments are unique
    assert(capped.contains((1L, 2L)), capped.toString)
    // aligned boilerplate (a templated 24-char prefix) on 42 docs: the
    // uncapped operator still finds exactly the brute-force pairs
    val boiler = "common header text here "
    val templated = (1L to 40L).map(i => (i, f"$boiler$i%03d-unique-suffix")) ++ Seq(
      (100L, s"${boiler}payload alpha"),
      (101L, s"${boiler}payload alphb")) // 1 edit apart
    def pairsAt(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val tFrame = templated.toDF("doc_id", "text")
    val tExact = pairsAt(Dedup.editDistancePairs(tFrame, maxDist = 2))
    val tBrute = (for {
      (ia, ta) <- templated; (ib, tb) <- templated if ia < ib
      dd = levenshteinRef(ta, tb) if dd <= 2
    } yield (ia, ib) -> dd.toLong).toMap
    assert(tExact == tBrute,
      s"missing=${tBrute.keySet -- tExact.keySet} extra=${tExact.keySet -- tBrute.keySet}")
    assert(tExact.contains((100L, 101L)))
    // e18's declared shape (sf0.001 documents, maxDist 5, prefixLen 40, cap
    // 500): the cap is inactive there, so capped ≡ uncapped — the claim
    // graft.Verify's e18 pre-flight checks at verify scale
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val plain = pairsAt(Dedup.editDistancePairs(real, maxDist = 5, prefixLen = 40))
    assert(plain.nonEmpty)
    assert(pairsAt(Dedup.editDistancePairs(real, maxDist = 5, prefixLen = 40,
      maxSegmentBucket = 500)) == plain)
  }

  test("editDistancePairs ≡ brute force on 80 randomized strings (seeded)") {
    import spark.implicits._
    // adversarial shape for segment blocking: tiny alphabet (hash-collision
    // heavy buckets), mixed lengths, and explicit mutated near-dups
    val rnd = new scala.util.Random(1234)
    def randStr(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (1 to edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val p = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => cur.updated(p, ('a' + rnd.nextInt(3)).toChar) // sub
          case 1 => cur.take(p) + ('a' + rnd.nextInt(3)).toChar + cur.drop(p) // ins
          case _ if cur.nonEmpty => cur.take(p) + cur.drop(p + 1) // del
          case _ => cur
        }
      }
      cur
    }
    val bases = (0 until 60).map(i => (i.toLong, randStr(5 + rnd.nextInt(20))))
    val mutants = (0 until 20).map { j =>
      val (_, base) = bases(rnd.nextInt(bases.size))
      (100L + j, mutate(base, 1 + rnd.nextInt(4)))
    }
    val all = bases ++ mutants
    val got = Dedup.editDistancePairs(all.toDF("doc_id", "text"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val brute = (for {
      (ia, ta) <- all; (ib, tb) <- all if ia < ib
      dd = levenshteinRef(ta, tb) if dd <= 3
    } yield (ia, ib) -> dd.toLong).toMap
    assert(got == brute,
      s"missing=${(brute.keySet -- got.keySet).take(5)} extra=${(got.keySet -- brute.keySet).take(5)}")
    assert(brute.nonEmpty, "seeded corpus produced no near pairs — test is vacuous")
  }

  test("nearDedupRowsFrom composes with any pair family (edit-distance source)") {
    import spark.implicits._
    val frame = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gammaX"), // 1 edit from doc 1
      (3L, "totally different text"))
      .toDF("doc_id", "text")
    val kept = Dedup.nearDedupRowsFrom(frame,
        Dedup.editDistancePairs(frame, maxDist = 2))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // doc 2 collapses into doc 1's group
  }

  /** Textbook Wagner–Fischer reference implementation for the spec. */
  private def levenshteinRef(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  // ---- substring-level dedup: repeatedSpans / maskRepeatedSpans ----

  private def spanCorpus = {
    import spark.implicits._
    val common = (1 to 12).map(i => s"t$i").mkString(" ") // 12 shared tokens
    Seq(
      (1L, s"$common xx yy"),   // shared block at offset 0, 14 tokens
      (2L, s"zz $common"),      // shared block at offset 1, 13 tokens
      (3L, "totally unrelated words that never repeat anywhere else at all")
    ).toDF("doc_id", "text")
  }

  test("repeatedSpans finds every cross-document 10-token span with positions") {
    val got = Dedup.repeatedSpans(spanCorpus, n = 10, minDocs = 2)
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // 12 shared tokens -> three 10-gram spans (offsets 0/1/2 of the block):
    // doc 1 hosts them at pos 0,1,2; doc 2 at pos 1,2,3
    val common = (1 to 12).map(i => s"t$i")
    def span(off: Int) = common.slice(off, off + 10).mkString(" ")
    assert(got.toSeq == Seq(
      (1L, 0, span(0), 2L), (1L, 1, span(1), 2L), (1L, 2, span(2), 2L),
      (2L, 1, span(0), 2L), (2L, 2, span(1), 2L), (2L, 3, span(2), 2L)))
  }

  test("repeatedSpans is stable under adversarial repartitioning") {
    val base = Dedup.repeatedSpans(spanCorpus, n = 10, minDocs = 2)
      .orderBy("doc_id", "pos").collect().toSeq
    val shuffled = Dedup.repeatedSpans(spanCorpus.repartition(7).orderBy(rand(3)),
        n = 10, minDocs = 2)
      .orderBy("doc_id", "pos").collect().toSeq
    assert(base == shuffled && base.nonEmpty)
  }

  test("maskRepeatedSpans strips covered tokens, leaves unique docs intact") {
    val got = Dedup.maskRepeatedSpans(spanCorpus, n = 10, minDocs = 2)
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: spans at 0,1,2 cover token indices 0..11 -> "xx yy" survives
    // doc 2: spans at 1,2,3 cover 1..12 -> leading "zz" survives
    // doc 3: untouched (normalized text == original, already lowercase)
    assert(got(1L) == "xx yy")
    assert(got(2L) == "zz")
    assert(got(3L) == "totally unrelated words that never repeat anywhere else at all")
  }

  test("maskRepeatedSpans keepFirst retains each span's first occurrence") {
    val got = Dedup.maskRepeatedSpans(spanCorpus, n = 10, minDocs = 2, keepFirst = true)
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 hosts the first occurrence of every shared span -> untouched
    val common = (1 to 12).map(i => s"t$i").mkString(" ")
    assert(got(1L) == s"$common xx yy")
    // doc 2's occurrences are all non-first -> masked down to "zz"
    assert(got(2L) == "zz")
  }

  test("repeatedSpans minDocs=3 drops spans shared by only two documents") {
    import spark.implicits._
    val block = (1 to 10).map(i => s"t$i").mkString(" ")
    val trio = Seq((1L, block), (2L, block), (3L, block),
      (4L, (1 to 10).map(i => s"u$i").mkString(" ")),
      (5L, (1 to 10).map(i => s"u$i").mkString(" "))) // pair only
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSpans(trio, n = 10, minDocs = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L)) // the u-block pair is below minDocs
  }

  test("spanLookup ≡ repeatedSpans over corpus ∪ batch, restricted to the batch rows") {
    import spark.implicits._
    val block = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, s"one $block unique tail words here and more filler text"),
      (2L, s"two opening words then $block and a different ending"),
      (3L, "entirely unrelated document with no shared block at all today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, s"fresh ingest doc containing $block somewhere in the middle"),
      (11L, "fresh ingest doc with nothing repeated anywhere at all now truly"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    val want = rows(Dedup.repeatedSpans(corpus.unionAll(batch), n = 5, minDocs = 2)
      .where(col("doc_id") >= 10L))
    assert(want.nonEmpty, "batch must share spans with the corpus")
    assert(rows(Dedup.spanLookup(batch, corpus, n = 5, minDocs = 2)) == want)
    // a second batch sees the first batch's spans as corpus
    val batch2 = Seq((20L, s"third wave doc also containing $block right here"))
      .toDF("doc_id", "text")
    val want2 = rows(Dedup.repeatedSpans(corpus.unionAll(batch).unionAll(batch2),
        n = 5, minDocs = 2)
      .where(col("doc_id") === 20L))
    assert(rows(Dedup.spanLookup(batch2, corpus.unionAll(batch), n = 5, minDocs = 2)) ==
      want2)
  }

  test("repeatedSpanRanges merges overlapping hits; separated blocks stay apart") {
    import spark.implicits._
    val block1 = (1 to 12).map(i => s"t$i").mkString(" ")   // 12 shared tokens
    val block2 = (1 to 10).map(i => s"u$i").mkString(" ")   // 10 shared tokens
    val sep = (1 to 15).map(i => s"f$i").mkString(" ")      // 15 unique fillers
    val corpus = Seq(
      (1L, s"$block1 $sep $block2"),  // two repeated regions, separated
      (2L, block1),
      (3L, block2)
    ).toDF("doc_id", "text")
    val got = Dedup.repeatedSpanRanges(corpus, n = 10, minDocs = 2)
      .orderBy("doc_id", "start_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // doc 1: block1 hits at pos 0,1,2 -> [0,12); block2 hits at pos 27 -> [27,37)
    // doc 2: [0,12); doc 3: [0,10)
    assert(got.toSeq == Seq(
      (1L, 0, 12, 3L), (1L, 27, 37, 1L),
      (2L, 0, 12, 3L),
      (3L, 0, 10, 1L)))
  }

  test("maskRepeatedSpans handles empty and sub-n documents") {
    import spark.implicits._
    val tiny = Seq((1L, ""), (2L, "short doc"), (3L, "short doc")).toDF("doc_id", "text")
    // identical 2-token docs are BELOW the span width -> nothing flagged
    val got = Dedup.maskRepeatedSpans(tiny, n = 10, minDocs = 2)
      .select("doc_id", "clean_text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "", 2L -> "short doc", 3L -> "short doc"))
  }

  test("hyperplanesMd5 driver-side md5 fold matches Spark's in-engine md5 + conv decode") {
    import spark.implicits._
    // the coefficients e93's two engines both derive from md5("p:i") must
    // be what Spark's own md5()/conv() compute — pin a sample grid
    val grid = for (p <- 0 until 5; i <- 0 until 7) yield (p, i, s"$p:$i")
    val engine = grid.toDF("p", "i", "s")
      .select(col("p"), col("i"),
        (conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") % 2000001L
          - 1000000L).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val driver = Dedup.hyperplanesMd5(5, 7)
    for (p <- 0 until 5; i <- 0 until 7)
      assert(driver(p)(i) == engine((p, i)),
        s"coef($p,$i): driver ${driver(p)(i)} vs engine ${engine((p, i))}")
  }

  test("embeddingNearDupMd5 finds planted exact copies and agrees with the xxhash form") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val doubled = emb.unionAll(emb.withColumn("vec_id", col("vec_id") + 100000L))
    val got = Dedup.embeddingNearDupMd5(doubled, minCosine = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = emb.count()
    // every planted copy pair (id, id+100000) recovered at cosine 1.0:
    // identical vectors share the signature, hence every band bucket
    val planted = got.filter(t => t._2 == t._1 + 100000L)
    assert(planted.length == n, s"planted ${planted.length} of $n")
    assert(planted.forall(_._3 == 1.0))
    // organic pairs (if any) must also clear the verification threshold
    assert(got.forall(_._3 >= 0.95))
    // the xxhash production form reports the same verdict set on the same
    // input (different planes -> different candidates, but verification
    // gates both to true >=0.95 pairs; at this threshold the corpus holds
    // only the planted copies — the e31 planted-pair argument)
    val native = Dedup.embeddingNearDup(doubled, minCosine = 0.95)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native == got.map(t => (t._1, t._2)).toSet)
  }

  test("autoPlanes: verify-scale corpora land on the historical 32; bits clamp and grow with n") {
    // the e93 static oracle mirror pins 32 planes — the rule must keep
    // yielding 32 at every verify-scale corpus (Verify pre-flights this)
    assert(Dedup.autoPlanes(1000L) == 32)   // sf0.01 doubled embeddings
    assert(Dedup.autoPlanes(4000L) == 32)   // sf0.1 doubled embeddings
    assert(Dedup.autoPlanes(1L) == 32)      // clamp floor
    // growth: bits = ceil(log2(n/64)), 4 bands
    assert(Dedup.autoPlanes(64L * 1024L) == 4 * 10)
    assert(Dedup.autoPlanes(400000L) == 4 * 13)  // sf10 doubled embeddings
    assert(Dedup.autoPlanes(Long.MaxValue) == 4 * 15) // clamp ceiling
    // wider banding still finds planted exact copies (identical signatures
    // collide at ANY band width)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val doubled = e.unionAll(e.withColumn("vec_id", col("vec_id") + 100000L))
    val found = Dedup.embeddingNearDupMd5(doubled, minCosine = 0.95, nPlanes = 60)
      .where(col("id_b") === col("id_a") + 100000L).count()
    assert(found == e.count(), s"exact copies lost at 60 planes: $found")
  }

  test("autoBanding: recall-feasible (bits, bands) inside one signature word, else loud") {
    // minCosine 0.95 / R 0.9 → 7 bands × 9 bits (the documented frontier
    // point: cheaper candidate mass than fixed-32 at higher recall)
    val (np, nb) = Dedup.autoBanding(minCosine = 0.95)
    assert((np, nb) == ((63, 7)), s"got ($np, $nb)")
    // the returned pair actually clears the target by the LSH recall formula
    val p = 1.0 - math.acos(0.95) / math.Pi
    val recall = 1.0 - math.pow(1.0 - math.pow(p, np / nb), nb)
    assert(recall >= 0.9, s"theoretical recall $recall")
    // embeddingNearDupMd5 accepts the pair (63 % 7 == 0, fits 63 bits)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val doubled = e.unionAll(e.withColumn("vec_id", col("vec_id") + 100000L))
    val found = Dedup.embeddingNearDupMd5(doubled, minCosine = 0.95,
      nPlanes = np, bands = nb)
      .where(col("id_b") === col("id_a") + 100000L).count()
    assert(found == e.count(), s"exact copies lost at $np/$nb: $found")
    // a loose threshold cannot reach high recall in 63 bits — refuse loudly
    assertThrows[IllegalArgumentException] {
      Dedup.autoBanding(minCosine = 0.5, targetRecall = 0.999)
    }
  }

  test("multi-word signatures: autoBanding past 63 bits, band keys span words") {
    // the >10⁹-row regime: occupancy demands minBits=12 and NO single-word
    // split reaches 95% recall at minCosine 0.9 — the single-word call must
    // refuse loudly, the multi-word call must solve it
    assertThrows[IllegalArgumentException] {
      Dedup.autoBanding(minCosine = 0.9, targetRecall = 0.95, minBits = 12)
    }
    val (np, nb) = Dedup.autoBanding(minCosine = 0.9, targetRecall = 0.95,
      minBits = 12, maxSignatureBits = 512)
    assert(np > 63 && np % nb == 0 && np / nb >= 12, s"got ($np, $nb)")
    val p = 1.0 - math.acos(0.9) / math.Pi
    val recall = 1.0 - math.pow(1.0 - math.pow(p, np / nb), nb)
    assert(recall >= 0.95, s"theoretical recall $recall")
    // the operator accepts >63 planes and still recovers every planted
    // exact copy (identical vectors share every band key at any width) —
    // and emits nothing below the verification threshold
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val doubled = e.unionAll(e.withColumn("vec_id", col("vec_id") + 100000L))
    val wide = Dedup.embeddingNearDupMd5(doubled, minCosine = 0.95,
        nPlanes = 80, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(wide.count(t => t._2 == t._1 + 100000L) == e.count())
    assert(wide.forall(_._3 >= 0.95))
    // same for the xxhash production form
    val wideX = Dedup.embeddingNearDup(doubled, minCosine = 0.95,
        nPlanes = 80, bands = 8)
      .where(col("id_b") === col("id_a") + 100000L).count()
    assert(wideX == e.count())
    // the SQL mirror stays pinned to the single-word form it replays
    assertThrows[IllegalArgumentException] {
      Dedup.embeddingNearDupMd5Sql("embeddings", nPlanes = 80, bands = 8)
    }
  }

  test("autoWideBanding: one call — single word when feasible, wide only past the frontier") {
    // verify-scale corpus (4k vecs): occupancy floor 6 bits; a single-word
    // split reaches the target, so the rule must NOT widen — it returns the
    // round-13-measured 7×9=63 frontier point
    assert(Dedup.autoWideBanding(4000L, minCosine = 0.95) == ((63, 7)))
    // the round-14 e93wide corpus (400k vecs, minCosine 0.9, R 0.95):
    // occupancy floor 13 bits, NO single-word split reaches the target →
    // the rule widens UNAIDED to the measured 31 bands × 15 bits = 465
    // planes (97.8% recall at 400k planted-pair vectors)
    assert(Dedup.autoWideBanding(400000L, minCosine = 0.9, targetRecall = 0.95)
      == ((465, 31)))
    // >10⁹ rows: the floor clamps at maxBits and the rule still solves it
    val (np, nb) = Dedup.autoWideBanding(2000000000L, minCosine = 0.95)
    assert(np / nb == 15 && np > 63, s"got ($np, $nb)")
    val p = 1.0 - math.acos(0.95) / math.Pi
    assert(1.0 - math.pow(1.0 - math.pow(p, np / nb), nb) >= 0.9)
    // a target no 8-word signature reaches is a parameter error — loud
    assertThrows[IllegalArgumentException] {
      Dedup.autoWideBanding(400000L, minCosine = 0.5, targetRecall = 0.9999)
    }
    // the picked pair is always consumable by the operators
    assert(np % nb == 0)
  }

  test("embeddingNearDupMd5 handles an empty input frame") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(lit(false))
    assert(Dedup.embeddingNearDupMd5(emb).collect().isEmpty)
  }

  test("ngramContainmentPairs finds subsumption that Jaccard misses") {
    import spark.implicits._
    val big = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val excerpt = "alpha beta gamma delta epsilon zeta" // prefix: subset shingles
    val unrelated = "one two three four five six seven eight nine ten"
    val docs = Seq((1L, big), (2L, excerpt), (3L, unrelated)).toDF("doc_id", "text")
    val got = Dedup.ngramContainmentPairs(docs, minContainment = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    // excerpt (4 shingles) fully inside big (18 shingles): c_excerpt = 1.0,
    // c_big = 4/18 = 0.2222 — while the Jaccard (4/18) would never pass 0.9
    assert(got == Map((1L, 2L) -> ((0.2222, 1.0))))
    val jac = Dedup.ngramJaccardPairs(docs, minJaccard = 0.9).collect()
    assert(jac.isEmpty) // the symmetric family is blind to this pair
    // on a denser corpus, every reported pair clears the threshold on its
    // larger direction
    val dense = (1L to 30L).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 17}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
      .unionByName(Seq((100L, "w0 w3 w6 w9"), (101L, "w0 w3 w6 w9 x y z"))
        .toDF("doc_id", "text"))
    val densePairs = Dedup.ngramContainmentPairs(dense, minContainment = 0.8).collect()
    assert(densePairs.nonEmpty && densePairs.forall(r =>
      math.max(r.getDouble(2), r.getDouble(3)) >= 0.8))
  }

  test("nearDedupRowsKeepBest keeps the highest-scored member per cluster") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", Some(5.0)), (2L, "b", Some(9.0)), (3L, "c", Some(9.0)), // one cluster
      (4L, "d", Some(1.0)),                                             // singleton
      (5L, "e", Option.empty[Double]), (6L, "f", Option.empty[Double])) // null-score cluster
      .toDF("doc_id", "text", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDedupRowsKeepBest(docs, pairs, "q")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cluster {1,2,3}: max score 9.0 tie → lowest id 2; {5,6} all-null → 5
    assert(kept == Set(2L, 4L, 5L))
    // uniform scores degrade to the min-id semantics of nearDedupRowsFrom
    val uniform = docs.withColumn("q",
      org.apache.spark.sql.functions.lit(1.0))
    val a = Dedup.nearDedupRowsKeepBest(uniform, pairs, "q")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Dedup.nearDedupRowsFrom(uniform, pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    intercept[IllegalArgumentException](
      Dedup.nearDedupRowsKeepBest(docs, pairs, "nope"))
  }

  test("ngramContainmentPairs is repartition-stable on real documents") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = split(trim(col("text")), "\\s+")
    val k = greatest(floor(size(toks) / 2), lit(3)).cast("int")
    val exc = d.select((col("doc_id") + 200000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), k)).as("text"))
    val corpus = d.select(col("doc_id"), col("text")).unionAll(exc)
    val a = Dedup.ngramContainmentPairs(corpus, minContainment = 0.9)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    val b = Dedup.ngramContainmentPairs(corpus.repartition(7), minContainment = 0.9)
      .orderBy(col("id_a"), col("id_b")).collect().toSeq
    assert(a == b && a.nonEmpty)
    // every original finds its planted excerpt at containment 1.0
    val planted = a.filter(r => r.getLong(1) == r.getLong(0) + 200000L)
    assert(planted.forall(_.getDouble(3) == 1.0))
    assert(planted.size >= (d.count() * 9) / 10) // ≥90% of docs have ≥3-token halves
  }

  test("minhashLookupMd5: exact copy scores 1.0, near copy >= 0.5, unrelated doc has no row") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet white black gray"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (102L, "one two three four five six seven eight nine ten extra tail"),
      (103L, "totally different content about nothing shared at all here"))
      .toDF("doc_id", "text")
    val hits = Dedup.minhashLookupMd5(batch, corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(hits((101L, 1L)) == 1.0, hits.toString)
    assert(hits.contains((102L, 2L)) && hits((102L, 2L)) >= 0.5)
    assert(!hits.keys.exists(_._1 == 103L))
  }
}
