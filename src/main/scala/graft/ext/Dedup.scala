package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines (mandated
  * extension E1, SURVEY.md §2.e). Exact dedup mirrors the reference's
  * load-bearing DISTINCT / drop_duplicates (ipynb cells 11/36/41 — the tables
  * were double-loaded); near-dup is the standard MinHash/SimHash/Jaccard
  * family from Broder (1997) and Charikar (2002).
  *
  * Scale posture: every operator here is a pure DataFrame pipeline — exact
  * dedup is one hash-shuffle on the normalization key; MinHash-LSH candidate
  * generation is a band-bucket equi-join (shuffle on band hash, never a
  * cross join); SimHash is fully codegen'd per-row Catalyst expressions with
  * zero shuffle. All survive a 1000-executor / 100 TB corpus.
  */
object Dedup {

  /** Canonical text normalization applied before exact-hash dedup. */
  def normText(c: Column): Column = lower(trim(c))

  /** Content hash used as the exact-dedup identity. sha2-256 over the
    * normalized text — collision-safe at 100 TB corpus sizes (md5's 128 bits
    * would also do; 256 is free here since the hash is never stored long-term).
    */
  def contentHash(c: Column): Column = sha2(normText(c), 256)

  /** Exact dedup: keep the lowest-id row per normalized-content group.
    * One shuffle on the content hash; map-side partial min keeps the
    * shuffle small even when duplication is heavy.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, returning the surviving rows: the min-id row per
    * normalized-content group. Single-pass window (one shuffle on the
    * content hash, no self-join — a semi-join back onto the input would
    * both double the scan and trip Catalyst's self-join attribute
    * ambiguity). Also correct under the reference's 2×-load artifact where
    * the SAME id appears twice (row_number keeps exactly one).
    */
  def exactRows(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(contentHash(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Word-level n-grams of the normalized text IN POSITION ORDER, repeats
    * kept — served by the native [[graft.functions.NGramsOrdered]]
    * expression (one compiled pass; the HOF twin below is the readable spec
    * it is pinned against). Repetition statistics
    * ([[TextStats.repetitionStats]]) consume this multiset form; set-based
    * similarity uses [[shingles]].
    */
  def ngramsOrdered(c: Column, n: Int = 3): Column =
    graft.functions.Shingles.ngramsOrdered(c, n)

  /** HOF reference formulation of [[ngramsOrdered]] — kept as the readable
    * spec the native expression is bit-identity-pinned against.
    */
  private[ext] def ngramsOrderedHof(c: Column, n: Int = 3): Column = {
    def toks: Column = split(normText(c), "\\s+")
    val joined = (1 until n).foldLeft(toks) { (acc, k) =>
      // zip_with pads the shorter (shifted) side with nulls; a null partner
      // marks an incomplete trailing n-gram, filtered below
      zip_with(acc, slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))),
        (x, y) => when(y.isNull || x.isNull, lit(null)).otherwise(concat(x, lit(" "), y)))
    }
    filter(joined, x => x.isNotNull)
  }

  /** Word-level shingles: the distinct SET of [[ngramsOrdered]], served by
    * the native [[graft.functions.ShingleSet]] expression (one compiled
    * pass; the HOF twin below is the readable spec it is pinned against).
    */
  def shingles(c: Column, n: Int = 3): Column =
    graft.functions.Shingles.shingleSet(c, n)

  /** HOF reference formulation of [[shingles]] — kept as the readable spec
    * the native expression is bit-identity-pinned against in DedupSpec.
    */
  private[ext] def shinglesHof(c: Column, n: Int = 3): Column =
    array_distinct(ngramsOrderedHof(c, n))

  /** k independent MinHash signature values (Broder 1997) over a shingle
    * array — seeded xxhash64 per permutation, folded with `least`. Pure
    * codegen'd Catalyst expressions: no ml.Vector materialization, no UDF.
    */
  def minhashSignature(shCol: Column, k: Int): Seq[Column] =
    (0 until k).map { i =>
      aggregate(
        transform(shCol, g => xxhash64(concat(lit(s"$i:"), g))),
        lit(Long.MaxValue),
        (acc, h) => least(acc, h))
    }

  /** (id, band-key) rows for MinHash-LSH banding — ids and band hashes only,
    * never shingle arrays, so a bucket row costs bytes per member regardless
    * of document length. Docs with no shingles (fewer than `shingleSize`
    * tokens) would all share the all-MaxValue signature and collapse into one
    * degenerate bucket; MinHashSig yields exactly Long.MaxValue in every slot
    * for them, so one element probe filters them without tokenizing twice.
    */
  private def minhashBandedIds(
      docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sigs = docs
      .select(col(idCol).as("id"),
        graft.functions.MinHash.minhashSig(col(textCol), shingleSize,
          bands * rowsPerBand).as("sig"))
      .where(element_at(col("sig"), 1) =!= Long.MaxValue)
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*)).as("key"))
    }
    sigs.select(col("id"), explode(array(bandKeys: _*)).as("bk"))
  }

  /** Md5 twin of [[minhashBandedIds]] — the engine-portable banding used by
    * [[minhashNearDupMd5]]: md5-derived signatures, PLAIN-TEXT band keys
    * (the joined signature values, no second hash an engine could disagree
    * on), over the `(id, sh)` shingle sets the verification reads too.
    */
  private def minhashBandedIdsMd5(
      sh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    // native one-pass digest fold — bit-identical to the HOF
    // minhashSignatureMd5 (DedupSpec pin), ~k interpreted array traversals
    // with hex-string decoding collapsed into whole-stage codegen
    val sigs = sh.select(col("id"),
      graft.functions.MinHashMd5.minhashSigMd5(col("sh"),
        bands * rowsPerBand).as("sig"))
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("key"))
    }
    sigs.select(col("id"), explode(array(bandKeys: _*)).as("bk"))
  }

  /** Native MinHash-LSH near-dup pairs: signature → band keys → id-only
    * band buckets → candidate id pairs → shingle re-join for exact-Jaccard
    * verification. The signature is 16 integer folds in whole-stage
    * codegen, and — unlike a naive formulation that carries each document's
    * shingle array into the bucket aggregation — the bucket stage touches
    * ONLY (id, band-key): a degenerate bucket of a million identical docs
    * costs 8 MB of ids in the aggregation buffer, not gigabytes of arrays.
    * Shingles are computed a second time, into the keyed shingle pin the
    * verification joins read in place — an embarrassingly parallel
    * codegen'd scan, the standard Spark trade of CPU for memory safety.
    *
    * No bucket is capped, so no candidate pair is ever dropped. A degenerate
    * bucket of B members still yields B²/2 candidate pairs downstream — if
    * the corpus may contain exact-dup clusters, run [[exactRows]] first (the
    * cheap operator that removes them).
    */
  def minhashNearDupNative(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.7): DataFrame = {
    val banded = minhashBandedIds(docs, textCol, idCol, shingleSize, bands, rowsPerBand)
    // Bucket → ordered candidate id pairs. collect_list over longs only.
    val ids = banded.groupBy(col("bk"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
    val pairs = ids
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct() // the same pair can surface from several bands
    verifyExactJaccard(pairs,
      keyedShingleSets(docs, textCol, idCol, shingleSize), minJaccard)
  }

  /** 64-bit SimHash (Charikar 2002) over the token stream — entirely
    * codegen'd Catalyst higher-order functions, no UDF, no shuffle:
    * token → xxhash64 → per-bit ±1 vote → sign vector → packed Long.
    * Near-dups are pairs within small Hamming distance; candidate pairing at
    * scale uses the classic rotate-and-block trick on the packed value.
    */
  def simhash(c: Column, nBits: Int = 64): Column =
    simhashFromHashes(transform(split(normText(c), "\\s+"), t => xxhash64(t)), nBits)

  /** Vote-and-pack core shared by the SimHash variants: per-bit ±1 votes
    * over the token-hash array, sign vector, packed Long. ONE aggregate pass
    * carrying all nBits vote counters (a per-bit aggregate would re-evaluate
    * the tokenize+hash subtree nBits times per row). Bit extraction shifts
    * by the lambda index via BitOps (the Catalyst shift expressions accept
    * column shift amounts).
    */
  private def simhashFromHashes(hashes: Column, nBits: Int): Column = {
    val votes = aggregate(
      hashes,
      array_repeat(lit(0L), nBits),
      (acc, h) =>
        zip_with(acc, sequence(lit(0), lit(nBits - 1)), (a, i) =>
          a + graft.functions.BitOps.shiftRight(h, i).bitwiseAND(lit(1L)) * 2 - 1))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(nBits - 1)), (v, i) =>
        when(v > 0, graft.functions.BitOps.shiftLeft(lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }

  /** ENGINE-PORTABLE 60-bit hash: the first 15 hex chars of md5 decoded as
    * an integer — the e13 `splitByHash` discipline widened from 16 bits to
    * 60. md5 because every engine emits the same lowercase hex; 15 chars
    * (not 16) so the value stays below 2⁶⁰ — positive in any signed-64
    * representation, and `conv`'s unsigned 16-hex-char reading can never
    * wrap. Spark computes it with built-in `conv`; mirrors decode the same
    * prefix with the generated Horner expansion ([[md5Hex60Sql]]).
    */
  private[graft] def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Generated SQL twin of [[md5Hash60]]'s decode step: Horner expansion of
    * 15 hex chars of an md5-hex expression `m` (compute the md5 ONCE into a
    * column named `m` first — the expansion references it 15 times).
    */
  private[graft] def md5Hex60Sql(m: String): String =
    (1 to 15)
      .map(i => s"(strpos('0123456789abcdef', substr($m, $i, 1)) - 1)")
      .reduceLeft((acc, c) => s"($acc * 16 + $c)")

  /** ENGINE-PORTABLE SimHash: the [[simhash]] semantics with the per-token
    * hash swapped from xxhash64 to [[md5Hash60]], so an independent engine
    * can replay the fingerprint bit for bit (the e08 xxhash64 form stays the
    * fast path — xxhash64 is one codegen'd primitive vs md5's digest + hex
    * decode). 60 bits (not 64) because that is what one md5 prefix yields
    * portably; empty tokens are filtered (an empty text fingerprints to 0
    * rather than voting on hash("")). Multiset semantics — every occurrence
    * votes — matching [[simhash]].
    */
  def simhashMd5(c: Column, nBits: Int = 60): Column =
    simhashFromHashes(
      transform(
        filter(split(normText(c), "\\s+"), t => length(t) > 0),
        t => md5Hash60(t)),
      nBits)

  /** Generated DuckDB mirror of [[simhashMd5]] over `idCol, textCol` of
    * `table`: same tokenization, same 60-bit md5 hash, same ±1 votes, same
    * sign-pack — emitted from the SAME constants so the two engines cannot
    * drift. Tokenless docs pack to 0 on both sides (Spark: empty aggregate
    * over the init array; SQL: LEFT JOIN + COALESCE).
    */
  def simhashMd5Sql(table: String, textCol: String = "text",
      idCol: String = "doc_id", nBits: Int = 60): String =
    s"""WITH toks AS (
       |  SELECT $idCol, [t FOR t IN string_split_regex(trim(lower($textCol)), '\\s+')
       |                  IF len(t) > 0] AS tk
       |  FROM $table
       |), tokx AS (
       |  SELECT $idCol, unnest(tk) AS t FROM toks
       |), hm AS (
       |  SELECT $idCol, md5(t) AS m FROM tokx
       |), hv AS (
       |  SELECT $idCol, ${md5Hex60Sql("m")} AS h FROM hm
       |), votes AS (
       |  SELECT $idCol, b.i AS i, SUM(((h >> b.i) & 1) * 2 - 1) AS v
       |  FROM hv CROSS JOIN (SELECT unnest(range(0, $nBits)) AS i) b
       |  GROUP BY 1, 2
       |), packed AS (
       |  SELECT $idCol,
       |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i)
       |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY 1
       |)
       |SELECT d.$idCol, COALESCE(p.simhash, 0) AS simhash
       |FROM $table d LEFT JOIN packed p ON d.$idCol = p.$idCol
       |ORDER BY d.$idCol""".stripMargin

  /** ENGINE-PORTABLE MinHash signature ([[minhashSignature]] with
    * [[md5Hash60]] as the permutation hash): slot i is
    * min over shingles g of md5_60("i:" ∥ g). Same banding theory, but the
    * signature — and therefore band assignment and the candidate pair set —
    * is reproducible by any engine that can compute md5.
    */
  def minhashSignatureMd5(shCol: Column, k: Int): Seq[Column] =
    (0 until k).map { i =>
      aggregate(
        transform(shCol, g => md5Hash60(concat(lit(s"$i:"), g))),
        lit(Long.MaxValue),
        (acc, h) => least(acc, h))
    }

  /** ENGINE-PORTABLE MinHash-LSH near-dup pairs: the
    * [[minhashNearDupNative]] pipeline (signature → band keys → id-only
    * band buckets → candidate pairs → exact-Jaccard verification) with
    * md5-derived signatures and PLAIN-TEXT band keys (the joined signature
    * values — no second hash an engine could disagree on), so an
    * independent engine replays the IDENTICAL candidate set and scores
    * (mirror: [[minhashNearDupMd5Sql]]). The xxhash64 native form stays
    * the fast path — md5 costs a digest per (permutation, shingle) vs one
    * codegen'd xxhash64 — with the same bucket posture: the aggregation
    * touches (id, band-key) only, never shingle arrays, no bucket is
    * capped; the signatures and the verification read one keyed shingle
    * pin. This is the declared e84 form, where the DuckDB oracle
    * brute-forces all pairs.
    */
  def minhashNearDupMd5(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.7): DataFrame = {
    val sh = keyedShingleSets(docs, textCol, idCol, shingleSize)
    // an empty set's all-MaxValue signature would band every such doc
    // together
    val ids = minhashBandedIdsMd5(sh.where(col("n_sh") > 0), bands, rowsPerBand)
      .groupBy(col("bk"))
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .where(size(col("ids")) > 1)
    val pairs = ids
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
    verifyExactJaccard(pairs, sh, minJaccard)
  }

  /** Generated DuckDB mirror of [[minhashNearDupMd5]] over `idCol, textCol`
    * of `table` (which may be a parenthesized subquery — e.g. a doubled
    * corpus): same shingles, same md5 permutation hashes, same band keys,
    * same exact-Jaccard verification, emitted from the SAME constants.
    */
  def minhashNearDupMd5Sql(
      table: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minJaccard: Double = 0.7): String = {
    val grams = (0 until shingleSize).map(o => s"toks[i+$o]").mkString(", ")
    s"""WITH toksed AS (
       |  SELECT $idCol, string_split_regex(trim(lower($textCol)), '\\s+') AS toks
       |  FROM $table
       |), shn AS (
       |  SELECT $idCol, sh FROM (
       |    SELECT $idCol, list_distinct([
       |      concat_ws(' ', $grams)
       |      FOR i IN range(1, greatest(len(toks) - ${shingleSize - 2}, 1))
       |    ]) AS sh
       |    FROM toksed)
       |  WHERE len(sh) > 0
       |), shx AS (
       |  SELECT $idCol, unnest(sh) AS g FROM shn
       |), hm AS (
       |  SELECT $idCol, p.perm AS perm,
       |    md5(CAST(p.perm AS VARCHAR) || ':' || g) AS m
       |  FROM shx CROSS JOIN (SELECT unnest(range(0, ${bands * rowsPerBand})) AS perm) p
       |), sig AS (
       |  SELECT $idCol, perm, MIN(${md5Hex60Sql("m")}) AS s
       |  FROM hm GROUP BY 1, 2
       |), bk AS (
       |  SELECT $idCol, perm // $rowsPerBand AS band,
       |    string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS key
       |  FROM sig GROUP BY 1, 2
       |), cand AS (
       |  SELECT DISTINCT a.$idCol AS id_a, b.$idCol AS id_b
       |  FROM bk a JOIN bk b ON a.band = b.band AND a.key = b.key
       |    AND a.$idCol < b.$idCol
       |)
       |SELECT * FROM (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |  FROM cand c
       |  JOIN shn a ON c.id_a = a.$idCol
       |  JOIN shn b ON c.id_b = b.$idCol
       |)
       |WHERE jaccard >= $minJaccard
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Batch-vs-corpus MinHash near-dup lookup — the INCREMENTAL dedup
    * shape: a daily batch is deduped against the corpus without an
    * all-pairs pass ([[minhashNearDupMd5]] is the one-shot all-pairs
    * form). Similarity is judged on SIGNATURES alone — the estimated
    * Jaccard (fraction of agreeing MinHash slots, the unbiased resemblance
    * estimator, Broder 1997) — so the corpus side travels as ~100
    * bytes/doc of signature, never as shingle sets; exact re-verification
    * is the caller's follow-up on the tiny candidate list if needed.
    *
    * Scale shape: each side reduces to an (id, sig) frame; candidates come
    * from a (band, key) equi-join of batch band keys against corpus band
    * keys (both derived from signatures by a projection); agreement
    * scoring joins the two signature tables on the candidate ids. Nothing
    * corpus-sized shuffles except the band-key join itself, whose corpus
    * side is signature-width rows.
    *
    * Output: (batch_id, corpus_id, est_jaccard ≥ minEstJaccard), 4dp.
    * Engine-portable: md5 signatures, plain-text band keys — mirrored by
    * [[minhashLookupMd5Sql]].
    */
  def minhashLookupMd5(
      batch: DataFrame,
      corpus: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.5): DataFrame = {
    val k = bands * rowsPerBand
    val bs = minhashSigsMd5(batch, textCol, idCol, shingleSize, k)
    val cs = minhashSigsMd5(corpus, textCol, idCol, shingleSize, k)
    val bk = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("key"))
    }
    def bandRows(s: DataFrame, idAs: String) =
      s.select(col("id").as(idAs), explode(array(bk: _*)).as("bk"))
    val cand = bandRows(bs, "batch_id")
      .join(bandRows(cs, "corpus_id"), Seq("bk"))
      .select(col("batch_id"), col("corpus_id")).distinct()
    cand
      .join(bs.select(col("id").as("batch_id"), col("sig").as("sig_b")), Seq("batch_id"))
      .join(cs.select(col("id").as("corpus_id"), col("sig").as("sig_c")), Seq("corpus_id"))
      .withColumn("est_jaccard", round(
        size(filter(zip_with(col("sig_b"), col("sig_c"), (a, b) => a === b),
          x => x)).cast("double") / k, 4))
      .where(col("est_jaccard") >= minEstJaccard)
      .select(col("batch_id"), col("corpus_id"), col("est_jaccard"))
  }

  /** (id, sig) md5 MinHash signature frame of a corpus (any engine can
    * replay the md5 permutation hashes — the oracle contract). Docs with
    * zero shingles are excluded (they have no resemblance to estimate).
    * The native one-pass md5 digest fold is bit-identical to the HOF
    * [[minhashSignatureMd5]] (DedupSpec pin).
    */
  private def minhashSigsMd5(docs: DataFrame, textCol: String,
      idCol: String, shingleSize: Int, k: Int): DataFrame =
    docs.select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .where(size(col("sh")) > 0)
      .select(col("id"),
        graft.functions.MinHashMd5.minhashSigMd5(col("sh"), k).as("sig"))

  /** Generated DuckDB mirror of [[minhashLookupMd5]]: `batchSql` is a
    * parenthesized subquery producing (idCol, textCol) for the batch side;
    * same shingles, md5 permutation hashes, band keys, and slot-agreement
    * estimator, from the SAME constants.
    */
  def minhashLookupMd5Sql(
      corpusTable: String,
      batchSql: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.5): String = {
    val k = bands * rowsPerBand
    val grams = (0 until shingleSize).map(o => s"toks[i+$o]").mkString(", ")
    def sigCte(src: String, pfx: String): String =
      s"""${pfx}_toks AS (
         |  SELECT $idCol, string_split_regex(trim(lower($textCol)), '\\s+') AS toks
         |  FROM $src
         |), ${pfx}_shn AS (
         |  SELECT $idCol, sh FROM (
         |    SELECT $idCol, list_distinct([
         |      concat_ws(' ', $grams)
         |      FOR i IN range(1, greatest(len(toks) - ${shingleSize - 2}, 1))
         |    ]) AS sh
         |    FROM ${pfx}_toks)
         |  WHERE len(sh) > 0
         |), ${pfx}_hm AS (
         |  SELECT $idCol, p.perm AS perm,
         |    md5(CAST(p.perm AS VARCHAR) || ':' || g) AS m
         |  FROM (SELECT $idCol, unnest(sh) AS g FROM ${pfx}_shn) shx
         |  CROSS JOIN (SELECT unnest(range(0, $k)) AS perm) p
         |), ${pfx}_sig AS (
         |  SELECT $idCol, perm, MIN(${md5Hex60Sql("m")}) AS s
         |  FROM ${pfx}_hm GROUP BY 1, 2
         |), ${pfx}_bk AS (
         |  SELECT $idCol, perm // $rowsPerBand AS band,
         |    string_agg(CAST(s AS VARCHAR), ',' ORDER BY perm) AS key
         |  FROM ${pfx}_sig GROUP BY 1, 2
         |)""".stripMargin
    s"""WITH ${sigCte(corpusTable, "c")},
       |${sigCte(batchSql, "b")},
       |cand AS (
       |  SELECT DISTINCT b.$idCol AS batch_id, c.$idCol AS corpus_id
       |  FROM b_bk b JOIN c_bk c ON b.band = c.band AND b.key = c.key
       |), agree AS (
       |  SELECT cand.batch_id, cand.corpus_id,
       |    CAST(SUM(CASE WHEN bs.s = cs.s THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
       |  FROM cand
       |  JOIN b_sig bs ON bs.$idCol = cand.batch_id
       |  JOIN c_sig cs ON cs.$idCol = cand.corpus_id AND cs.perm = bs.perm
       |  GROUP BY 1, 2
       |)
       |SELECT batch_id, corpus_id,
       |  round(CAST(n_agree AS DOUBLE) / $k, 4) AS est_jaccard
       |FROM agree
       |WHERE round(CAST(n_agree AS DOUBLE) / $k, 4) >= $minEstJaccard""".stripMargin
  }

  /** Hamming distance between two packed 64-bit SimHashes. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** The `(id, sh, n_sh)` shingle sets of the documents. Lazy: for the
    * single-consumer paths and the audits. An empty set explodes to no
    * index entry, so it never reaches a candidate pair in either family;
    * it is not filtered here, because the optimizer would push that filter
    * below the projection and shingle every document twice.
    */
  private def shingleSets(docs: DataFrame, textCol: String, idCol: String,
      shingleSize: Int): DataFrame =
    docs
      .select(col(idCol).as("id"), shingles(col(textCol), shingleSize).as("sh"))
      .select(col("id"), col("sh"), size(col("sh")).as("n_sh"))

  /** [[shingleSets]] as a keyed pin by id — the one shingle pass of every
    * verifying path. The documents are hash-partitioned by id BEFORE
    * shingling: that one shuffle spreads the shingle stage over
    * `spark.sql.shuffle.partitions` tasks whatever the scan's split (a
    * single-row-group file scans as one task), deduplicates a 2×-loaded
    * input (the same id and text twice) with a partition-local
    * aggregation, and is the layout the pin declares, so the pin adds no
    * second shuffle. Every later join on the document id — the
    * verification joins, the prefix modes' per-document windows — reads
    * the pinned rows in place.
    */
  private def keyedShingleSets(docs: DataFrame, textCol: String,
      idCol: String, shingleSize: Int): DataFrame = {
    val n = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val byId = docs.select(col(idCol), col(textCol))
      .repartition(n, col(idCol)).distinct()
    graft.ops.Layout.pin(shingleSets(byId, textCol, idCol, shingleSize), "id")
  }

  /** Candidate pairs with both members' shingle sets attached, from the
    * keyed shingle pin `sh` ([[keyedShingleSets]]): each join hashes the
    * pair side (shuffled once to the pin's layout) and streams the pinned
    * sets in place, so the corpus-side arrays are never shuffled — the
    * first join's output, pair plus one array, is what moves to meet the
    * second. Shuffle-HASH on purpose: a sort-merge join would
    * external-sort the pair stream with ~1 KB arrays attached (the
    * round-14 sf10 probe: ~15 GB of spill at 17M candidates).
    */
  private def withShingleSets(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs.hint("shuffle_hash")
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .hint("shuffle_hash")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))

  /** Exact-Jaccard re-score of candidate id pairs against the keyed
    * shingle pin `sh`: |A∩B| / (|A|+|B|−|A∩B|) on the FULL sets, filtered
    * at `minJaccard`. Shared by every candidate generator (MinHash banding,
    * prefix filter, witness prefix) — whatever pruned the candidates, the
    * scores this emits are those of the naive all-pairs operator.
    */
  private def verifyExactJaccard(
      pairs: DataFrame, sh: DataFrame, minJaccard: Double): DataFrame = {
    val common = size(array_intersect(col("sh_a"), col("sh_b")))
    withShingleSets(pairs, sh)
      .select(col("id_a"), col("id_b"),
        (common.cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - common)).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Posting-list bucket builder shared by [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: group the inverted index `(id, n_sh, g)` into
    * per-shingle member lists, keeping only shingles shared by 2 or more
    * documents.
    */
  private def postingBuckets(inv: DataFrame): DataFrame =
    inv.groupBy(col("g"))
      .agg(collect_list(struct(col("id"), col("n_sh"))).as("members"))
      .where(size(col("members")) > 1)

  /** Exact containment re-score of candidate id pairs — the directional
    * twin of [[verifyExactJaccard]], on the same keyed shingle pin: both
    * containment directions computed 4dp-rounded on the FULL sets, so
    * whatever pruned the candidates, the emitted rows are those of the
    * naive all-pairs operator.
    */
  private def verifyContainment(
      pairs: DataFrame, sh: DataFrame, minContainment: Double): DataFrame = {
    val common = size(array_intersect(col("sh_a"), col("sh_b")))
    withShingleSets(pairs, sh)
      .select(col("id_a"), col("id_b"),
        round(common.cast("double") / size(col("sh_a")).cast("double"), 4)
          .as("c_a_in_b"),
        round(common.cast("double") / size(col("sh_b")).cast("double"), 4)
          .as("c_b_in_a"))
      .where(greatest(col("c_a_in_b"), col("c_b_in_a")) >= minContainment)
  }

  // ---- AllPairs/PPJoin prefix filtering (Bayardo et al. 2007; Xiao et al.
  // 2008) shared by the prefixFilter modes of [[ngramJaccardPairs]] and
  // [[ngramContainmentPairs]] ----

  /** Threshold scale for the exact-integer overlap bounds below. */
  private val PfScale = 10000L

  /** Prefix extension for [[ngramContainmentPairs]]'s `prefixDfCap` mode:
    * the prefix is extended by this many entries and candidates must show
    * `min(PrefixWitnessExt + 1, α)` shared entries inside it (see the
    * operator's scaladoc — the pigeonhole strengthens with the extension,
    * so the requirement is exact). [[ngramContainmentAtRisk]] audits the
    * SAME extended prefix; the two must move together.
    */
  private val PrefixWitnessExt = 2

  /** The similarity threshold as a WEAKENED integer numerator over
    * [[PfScale]]: `floor(t·10⁴) − 1`. Weakened twice on purpose — once for
    * thresholds that aren't exactly representable at 4dp (floor, never
    * round: a too-large rational threshold would shrink prefixes below the
    * theorem's requirement) and once more (−1) so pairs whose true score
    * sits a hair BELOW `t` but 4dp-ROUNDS UP to it (the containment filter
    * compares round(c, 4) ≥ t) still generate a candidate. Pruning with a
    * weaker threshold only admits extra candidates; the full-set
    * verification restores the exact semantics.
    */
  private def pfThresholdNum(t: Double): Long =
    math.floor(t * PfScale + 1e-9).toLong - 1L

  /** `⌈(n · tNum) / 10⁴⌉` as exact integer Column arithmetic — the minimum
    * overlap a qualifying pair must reach when the bound is `t · n`. The
    * double division is exact here: the numerator stays far below 2⁵³ and a
    * non-integer quotient sits ≥ 1/10⁴ from the nearest integer, so `floor`
    * cannot be perturbed by the final ulp.
    */
  private def pfAlpha(n: Column, tNum: Long): Column =
    floor((n * lit(tNum) + lit(PfScale - 1)) / lit(PfScale.toDouble)).cast("int")

  /** Per-document df-ordered shingle positions: one row per (doc, shingle)
    * with `pos` = the shingle's 0-based rank in the GLOBAL
    * (document-frequency ASC, shingle ASC) total order restricted to the
    * doc — the canonical ordering of the prefix-filter family (rare
    * shingles first, so a prefix holds each doc's most SELECTIVE shingles
    * and corpus-wide boilerplate sorts to the suffix where it is never
    * indexed).
    *
    * The shingle key `g` in the OUTPUT is its 8-byte xxhash64, not the
    * text: every downstream use is an equi-join/group key, and hashing is
    * EXACTNESS-SAFE — the prefix theorems hold for ANY deterministic
    * per-doc subset of the right size under ANY consistent global order
    * (a collision can only merge two buckets, i.e. add candidates and
    * raise the merged key's df; survivors re-score on full shingle sets
    * either way) — while the shuffles move longs instead of ~25-byte
    * strings. Two shuffles, both window-shaped with no list buffers: the
    * df count (by key) and the per-doc rank (by id) — the round-14 sf10
    * probe measured the previous groupBy + `sort_array(collect_list)`
    * formulation of the same ranking inside the aggregation spill this
    * shape avoids.
    */
  private def pfOrderedEntries(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = pfHashedInv(sh)
    inv
      .withColumn("gdf", count(lit(1)).over(Window.partitionBy(col("g"))))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("gdf"), col("g"))) - 1)
      .select(col("id"), col("n_sh"), col("pos"), col("g"), col("gdf"))
  }

  /** The hashed inverted index shared by [[pfOrderedEntries]] and
    * [[prefixWitnessCands]]: one (id, n_sh, g) row per (doc, shingle), `g` the
    * shingle's xxhash64 (see [[pfOrderedEntries]] for the exactness
    * argument).
    */
  private def pfHashedInv(sh: DataFrame): DataFrame =
    sh.select(col("id"), col("n_sh"), explode(col("sh")).as("g0"))
      .select(col("id"), col("n_sh"), xxhash64(col("g0")).as("g"))

  /** Witness-counted rarest-prefix candidate pairs — the `prefixDfCap`
    * candidate generator shared by [[ngramContainmentPairs]] and (round 15)
    * [[ngramJaccardPairs]]: the designated smaller side's e-extended
    * df-ordered prefix equi-joined against the df-capped full index, then
    * the multi-witness pigeonhole quota (`__w ≥ min(e+1, α)` — see the
    * containment operator's scaladoc for the exactness argument). The quota
    * is IDENTICAL for both thresholds because each bounds a qualifying
    * pair's overlap below by `⌈t·|S|⌉` on its designated smaller side S
    * (containment: `|A∩B| ≥ t·min` directly; Jaccard: `|A∩B| ≥ t·|A∪B| ≥
    * t·max ≥ t·|S|` — if anything a STRONGER bound, so the containment
    * quota is valid and merely admits a few extra candidates).
    * `lengthBound` adds the Jaccard size-compatibility prune
    * (`t·larger ≤ smaller`, exact integer form — a Jaccard necessary
    * condition with no containment analog). Recall contract and audit are
    * the containment ones: [[ngramContainmentAtRisk]] /
    * [[ngramJaccardAtRisk]] list the docs whose witness window holds any
    * over-cap shingle.
    *
    * The capped entries are `pfOrderedEntries(sh).where(gdf <= cap)` with
    * the cap pushed BETWEEN the two windows: the df window runs
    * as before (one source pass), but over-cap entries are dropped BEFORE
    * the per-doc rank shuffle instead of after it — the rank window's
    * exchange and sort never see the corpus-dense boilerplate entries the
    * cap exists to exclude. Identical rows to the post-filter form: every
    * over-cap entry has `gdf > cap >= gdf(kept)`, so in the per-doc
    * (gdf ASC, g ASC) order every over-cap entry sorts STRICTLY AFTER
    * every kept entry — removing them first cannot shift any kept entry's
    * `pos`. (Entries tied on (gdf, g) are byte-identical rows, so their
    * arbitrary row_number assignment is unobservable downstream.) The
    * window semantics (`pos <= n_sh − α + e` with `n_sh` = the FULL
    * shingle count) are untouched — the audits ([[prefixWitnessAtRisk]])
    * keep the uncapped [[pfOrderedEntries]] form because they must SEE
    * over-cap entries inside the window. A groupBy+shuffle_hash-join df
    * attachment was A/B'd at 500k docs and REJECTED: it re-scans and
    * re-shingles the corpus for the df table, and the second source pass
    * costs more than the avoided sort (49.2 s window vs 50.8 s join,
    * identical 26,916 candidates — OPTIMIZATION_r15.md); that second pass
    * is gone now that `sh` is pinned, so the trade is worth re-measuring.
    *
    * Layout: `sh` is the keyed shingle pin ([[keyedShingleSets]]), and the
    * capped entries are pinned keyed by `g`, so the probe⋈index join runs
    * co-partitioned — no exchange and no broadcast on either side, the
    * probe (prefix) side hashed per partition.
    */
  private def prefixWitnessCands(sh: DataFrame, tNum: Long,
      prefixDfCap: Int, lengthBound: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = PrefixWitnessExt
    // keyed pin by the shingle hash: the probe AND index legs both read
    // it (unpinned, the df+rank window pipeline ran twice), and the join
    // of the two on g then needs no exchange on either side. The probe
    // side (the prefixes, a fraction of the entries) is the hash build.
    val kept = graft.ops.Layout.pin(pfHashedInv(sh)
      .withColumn("gdf", count(lit(1)).over(Window.partitionBy(col("g"))))
      .where(col("gdf") <= prefixDfCap)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("gdf"), col("g"))) - 1)
      .select(col("id"), col("n_sh"), col("pos"), col("g")), "g")
    val probe = kept
      .where(col("pos") <= col("n_sh") - pfAlpha(col("n_sh"), tNum) + e)
      .select(col("id").as("id_p"), col("n_sh").as("n_p"),
        col("pos").as("pos_p"), col("g"))
    val index = kept.select(col("id").as("id_i"), col("n_sh").as("n_i"),
      col("pos").as("pos_i"), col("g"))
    val joined = probe.hint("shuffle_hash").join(index, Seq("g"))
      // the probe doc must be the pair's designated smaller side (ties
      // by id): its prefix is where the pigeonhole guarantees witnesses
      .where(col("n_p") < col("n_i") ||
        (col("n_p") === col("n_i") && col("id_p") < col("id_i")))
    val sized =
      if (lengthBound) joined.where(
        lit(PfScale) * col("n_p") >= lit(tNum) * col("n_i"))
      else joined
    sized
      // positional bound relaxed by e — valid for the j-th shared entry,
      // j ≤ e+1 (suffixes must still cover α − e), so every counted
      // witness survives it
      .where(least(col("n_p") - col("pos_p"), col("n_i") - col("pos_i")) >=
        pfAlpha(col("n_p"), tNum) - e)
      .groupBy(least(col("id_p"), col("id_i")).as("id_a"),
        greatest(col("id_p"), col("id_i")).as("id_b"))
      // n_p is constant per pair — the designation is deterministic
      .agg(count(lit(1)).as("__w"), first(col("n_p")).as("__n_p"))
      .where(col("__w") >= least(lit(e + 1), pfAlpha(col("__n_p"), tNum)))
      .select(col("id_a"), col("id_b"))
  }

  /** Shared body of [[ngramContainmentAtRisk]] / [[ngramJaccardAtRisk]]:
    * docs with ≥1 over-cap shingle inside the e-extended prefix witness
    * window, as `(id, n_prefix, n_overcap, max_df)` — threshold semantics
    * enter only through `tNum` (the window is the same construction for
    * both families; see [[prefixWitnessCands]]).
    */
  private def prefixWitnessAtRisk(sh: DataFrame, tNum: Long,
      prefixDfCap: Int): DataFrame =
    pfOrderedEntries(sh)
      .where(col("pos") <=
        col("n_sh") - pfAlpha(col("n_sh"), tNum) + PrefixWitnessExt)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_prefix"),
        sum(when(col("gdf") > prefixDfCap, 1L).otherwise(0L)).as("n_overcap"),
        max(col("gdf")).as("max_df"))
      .where(col("n_overcap") > 0)
      .orderBy(col("n_overcap").desc, col("id"))

  /** Exact n-gram Jaccard near-dup pairs at or above `minJaccard`, via
    * posting-list buckets: explode shingles → ONE shuffle grouping the
    * (id, |set|) posting list per shingle → in-bucket pair explode with a
    * LENGTH FILTER → count co-occurrences per pair → |A∩B| / (|A|+|B|−|A∩B|).
    * The length filter (t·max(|A|,|B|) ≤ min(|A|,|B|), a Jaccard necessary
    * condition — |A∩B| ≤ min and |A∪B| ≥ max) runs inside the bucket
    * explode, so size-incompatible pairs never reach the aggregation; it is
    * lossless. Measured 2.4× faster than the equivalent two-sided
    * string-keyed self-join of the inverted index (one shuffle instead of
    * two join sides, and pair generation compares longs, not shingle
    * strings). The posting-list buffer is O(df) per shingle — the same
    * id-only bucket shape [[minhashNearDupNative]] uses — and the quadratic
    * term (Σ df² pairs out of the explode) is what the two prefix modes
    * below bound.
    *
    * `prefixFilter = true` switches candidate generation to AllPairs/PPJoin
    * positional prefix filtering (Bayardo et al. 2007; Xiao et al. 2008):
    * order every doc's shingles by global df ascending ([[pfOrderedEntries]]),
    * index only each doc's first `n − ⌈t·n⌉ + 1` shingles, and bucket-join
    * PREFIXES against PREFIXES — a qualifying pair must share ≥ ⌈t·max⌉
    * shingles, so its prefixes provably intersect (no recall contract AT
    * ALL: the filter is exact, and survivors re-score on full sets via
    * [[verifyExactJaccard]]). The positional bound
    * `min(|A|−i, |B|−j) ≥ ⌈t·max⌉` prunes rows whose shared shingle sits
    * too deep for the remaining suffixes to reach the overlap (valid at the
    * pair's FIRST shared prefix shingle, which always survives for
    * qualifying pairs — later shared shingles may be filtered, the distinct
    * keeps the pair). Candidate volume drops from Σ df² to Σ prefix_df²
    * where boilerplate shingles have prefix_df ≈ 0 — this is what replaces
    * a df cap at corpus scale without touching semantics.
    *
    * Regime note, measured: at sf0.1 (1k docs, ~52 shingles/doc) the plain
    * count-based aggregation wins — candidates are cheap counts and the
    * prefix machinery's extra df-join/sort passes dominate (the round-3
    * negative result). At sf10 (5M docs) the Σ df² explode is the whole
    * cost and prefix filtering wins outright (BASELINE.md carries both
    * numbers). Exactness is identical either way; pick by corpus size.
    *
    * `prefixDfCap > 0` (round 15) is the e106 witness-counted rarest-prefix
    * SCALE path transferred to this symmetric family — candidates from the
    * smaller side's e-extended prefix under an audited bucket cap with the
    * multi-witness pigeonhole quota, plus the Jaccard length bound (see
    * [[prefixWitnessCands]]); audit with [[ngramJaccardAtRisk]], recall
    * contract as there; survivors re-score exactly.
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minJaccard: Double = 0.8,
      prefixFilter: Boolean = false,
      prefixDfCap: Int = 0): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1.0,
      s"minJaccard in (0, 1]: $minJaccard")
    require(prefixDfCap <= 0 || !prefixFilter,
      "prefixDfCap is a complete candidate-generation mode of its own — " +
        "do not combine it with prefixFilter")
    if (prefixDfCap > 0) {
      // round-15 (verdict item 6): the e106 witness-counted rarest-prefix
      // generator transferred to the symmetric family — audited recall
      // contract via [[ngramJaccardAtRisk]], candidates additionally
      // pruned by the Jaccard length bound (see [[prefixWitnessCands]]).
      val sh = keyedShingleSets(docs, textCol, idCol, shingleSize)
      val cand = prefixWitnessCands(sh, pfThresholdNum(minJaccard),
        prefixDfCap, lengthBound = true)
      return verifyExactJaccard(cand, sh, minJaccard)
    }
    if (prefixFilter) {
      val sh = keyedShingleSets(docs, textCol, idCol, shingleSize)
      val tNum = pfThresholdNum(minJaccard)
      val entries = pfOrderedEntries(sh)
      // prefix: pos ≤ n − ⌈t·n⌉ (0-based; prefix length n − α + 1)
      val pref = entries.where(col("pos") <= col("n_sh") - pfAlpha(col("n_sh"), tNum))
      // one-shuffle bucket self-pairing over PREFIX posting lists (the
      // postingBuckets shape; lists here are prefix_df-sized, not df-sized)
      val buckets = pref.groupBy(col("g"))
        .agg(collect_list(struct(col("id"), col("n_sh"), col("pos"))).as("members"))
        .where(size(col("members")) > 1)
      val cand = buckets
        .select(explode(col("members")).as("a"), col("members"))
        .select(col("a"), explode(col("members")).as("b"))
        .where(col("a.id") < col("b.id") &&
          // length filter: t·max ≤ min, exact integer form
          lit(PfScale) * least(col("a.n_sh"), col("b.n_sh")) >=
            lit(tNum) * greatest(col("a.n_sh"), col("b.n_sh")) &&
          // positional filter: remaining suffixes must cover ⌈t·max⌉
          least(col("a.n_sh") - col("a.pos"), col("b.n_sh") - col("b.pos")) >=
            pfAlpha(greatest(col("a.n_sh"), col("b.n_sh")), tNum))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      return verifyExactJaccard(cand, sh, minJaccard)
    }
    val inv = shingleSets(docs, textCol, idCol, shingleSize)
      .select(col("id"), col("n_sh"), explode(col("sh")).as("g"))
    // every co-occurrence is counted, so the count IS |A∩B|
    postingBuckets(inv)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.id") < col("b.id") &&
        least(col("a.n_sh"), col("b.n_sh")) >=
          lit(minJaccard) * greatest(col("a.n_sh"), col("b.n_sh")))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"), first(col("a.n_sh")).as("n_a"),
        first(col("b.n_sh")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** Exact n-gram CONTAINMENT near-dup pairs — the asymmetric companion to
    * [[ngramJaccardPairs]]: `C(A→B) = |A∩B| / |A|`, so a short document
    * fully embedded in a long one scores 1.0 where its Jaccard is tiny
    * (the subsumption case symmetric overlap can't see — quoted articles,
    * documents-with-appendices, version supersets). One row per unordered
    * pair with BOTH directions:
    * `(id_a, id_b, c_a_in_b, c_b_in_a)` (4dp), kept when the LARGER
    * direction reaches `minContainment`; the consumer reads which side is
    * the contained one off the two columns.
    *
    * Same posting-list-bucket shape as the Jaccard form, with ONE
    * deliberate difference: no length prefilter — Jaccard's `min ≥ t·max`
    * necessary condition is exactly the size asymmetry containment exists
    * to keep.
    *
    * `prefixFilter = true` is the EXACT scale path (no recall contract):
    * a qualifying pair needs `|A∩B| ≥ ⌈t·min(|A|,|B|)⌉`,
    * so the SMALLER doc's df-ordered prefix (its first `n − ⌈t·n⌉ + 1`
    * rarest shingles, [[pfOrderedEntries]]) must hit the larger doc's FULL
    * set — candidate generation is a prefix-vs-full equi-join, Σ
    * (prefix_df · df) instead of Σ df². The larger side cannot be
    * prefix-restricted (its valid prefix length depends on the pair's MIN
    * size, unknown per doc — the asymmetry again), but boilerplate carries
    * prefix_df ≈ 0, which is where the quadratic lived. The positional
    * bound `min(|S|−i, |L|−j) ≥ ⌈t·|S|⌉` prunes per generated row (valid
    * at the first shared shingle, which qualifying pairs always retain);
    * survivors re-score exactly ([[verifyContainment]]).
    *
    * `prefixDfCap > 0` is the SCALE path (round 14) — rarest-prefix
    * candidate generation under an audited bucket cap, combining the prefix
    * filter above with a document-frequency cap:
    *
    *  - '''Rarest-prefix witnesses.''' A qualifying pair needs
    *    `|A∩B| ≥ ⌈t·|S|⌉` on its SMALLER side S, so S has at most
    *    `|S| − ⌈t·|S|⌉` shingles outside the partner — any
    *    `|S| − ⌈t·|S|⌉ + 1` of S's shingles must contain a shared one
    *    (pigeonhole). Candidates are therefore generated only from bucket
    *    rows where the designated smaller side's shingle sits in its
    *    df-ordered PREFIX ([[pfOrderedEntries]]; ties on |set| break by id,
    *    and equal-size pairs share their witness bound symmetrically).
    *    This is the `prefixFilter` guarantee re-expressed in the ONE-SHUFFLE
    *    posting-bucket shape (prefix members × all members per bucket,
    *    `Σ prefix_df·df` instead of `Σ df²` — and the
    *    prefix mass concentrates on RARE shingles, which is where df is
    *    small), instead of the entries⋈entries join that re-shuffles the
    *    full index and was measured exhausting scratch at 5M docs.
    *  - '''Audited df cap.''' Buckets larger than `prefixDfCap` are dropped
    *    from candidate generation — this is what the pure prefix filter
    *    cannot do (dropping a dense shingle might drop a pair's ONLY
    *    witness) and what makes the hot prefix-bucket case (identical or
    *    template docs whose RAREST shingles are still corpus-dense) bounded.
    *    The recall contract is PER-DOC and auditable: a pair can be missed
    *    as soon as over-cap buckets eat into the `min(e+1, α)` witness
    *    quota of the smaller side's e-extended prefix — a SINGLE over-cap
    *    shared shingle in that window can already drop a qualifying pair
    *    below quota; only a fully under-cap extended prefix is provably
    *    safe.
    *    [[ngramContainmentAtRisk]] (same arguments) lists exactly the docs
    *    with ANY over-cap entry in that window; when it returns empty the
    *    result is provably identical to the uncapped operator's —
    *    [[graft.Verify]] pre-flights that for the declared e106. Never
    *    silent.
    *
    * Survivors re-score on full sets ([[verifyContainment]]) either way, so
    * reported scores are always exact; the knobs only shape candidates.
    */
  def ngramContainmentPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minContainment: Double = 0.9,
      prefixFilter: Boolean = false,
      prefixDfCap: Int = 0): DataFrame = {
    require(minContainment > 0 && minContainment <= 1.0,
      s"minContainment in (0, 1]: $minContainment")
    require(prefixDfCap <= 0 || !prefixFilter,
      "prefixDfCap is a complete candidate-generation mode of its own — " +
        "do not combine it with prefixFilter")
    if (prefixDfCap > 0) {
      // the cap filters the hashed-key entry stream directly (one cheap
      // projection — df is already attached per entry); candidate
      // generation is a long-keyed equi-join of the e-EXTENDED prefix
      // entries against the capped index, not a posting-list groupBy — no
      // collect_list buffers to spill, and the per-key fan-out is
      // prefix_df·df with both factors bounded by the cap.
      //
      // Multi-witness counting: extending the prefix by e entries
      // strengthens the pigeonhole from "≥1 shared prefix shingle" to
      // "≥ min(e+1, α) shared entries within the extended prefix" (the
      // smaller side has ≤ n−α shingles outside the partner, so any
      // min(n−α+1+e, n) of its entries contain ≥ min(e+1, α) shared ones),
      // and those are the pair's FIRST shared shingles in the global order
      // because the prefix is a prefix of that order. Counting join rows
      // per pair and requiring that many witnesses is therefore EXACT —
      // and it is the candidate-volume bound the single-witness form
      // lacks: the round-14 sf10 probe measured 16.9M distinct candidate
      // pairs collapse to 604k at e=2 against 602k true pairs (99.8%
      // precision), turning the exact verify join from the operator's
      // dominant cost into noise. Shared generator: [[prefixWitnessCands]].
      val sh = keyedShingleSets(docs, textCol, idCol, shingleSize)
      val cand = prefixWitnessCands(sh, pfThresholdNum(minContainment),
        prefixDfCap, lengthBound = false)
      return verifyContainment(cand, sh, minContainment)
    }
    if (prefixFilter) {
      val sh = keyedShingleSets(docs, textCol, idCol, shingleSize)
      val tNum = pfThresholdNum(minContainment)
      val entries = pfOrderedEntries(sh)
      val probe = entries
        .where(col("pos") <= col("n_sh") - pfAlpha(col("n_sh"), tNum))
        .select(col("id").as("id_p"), col("n_sh").as("n_p"),
          col("pos").as("pos_p"), col("g"))
      val index = entries.select(col("id").as("id_i"), col("n_sh").as("n_i"),
        col("pos").as("pos_i"), col("g"))
      // the probe doc is the pair's SMALLER side (ties broken by id so each
      // pair is generated from exactly one perspective)
      val cand = probe.join(index, Seq("g"))
        .where(col("n_p") < col("n_i") ||
          (col("n_p") === col("n_i") && col("id_p") < col("id_i")))
        .where(least(col("n_p") - col("pos_p"), col("n_i") - col("pos_i")) >=
          pfAlpha(col("n_p"), tNum))
        .select(least(col("id_p"), col("id_i")).as("id_a"),
          greatest(col("id_p"), col("id_i")).as("id_b"))
        .distinct()
      return verifyContainment(cand, sh, minContainment)
    }
    val inv = shingleSets(docs, textCol, idCol, shingleSize)
      .select(col("id"), col("n_sh"), explode(col("sh")).as("g"))
    val common = col("common").cast("double")
    postingBuckets(inv)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .where(col("a.id") < col("b.id")) // no length filter — see scaladoc
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"), first(col("a.n_sh")).as("n_a"),
        first(col("b.n_sh")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        round(common / col("n_a").cast("double"), 4).as("c_a_in_b"),
        round(common / col("n_b").cast("double"), 4).as("c_b_in_a"))
      .where(greatest(col("c_a_in_b"), col("c_b_in_a")) >= minContainment)
  }

  /** Audit for [[ngramContainmentPairs]]'s `prefixDfCap` mode: the docs
    * whose RECALL GUARANTEE the cap could break, one row per doc whose
    * EXTENDED df-ordered prefix (the operator's witness window — prefix
    * plus [[PrefixWitnessExt]] entries) contains at least one over-cap
    * shingle — `(id, n_prefix, n_overcap, max_df)`, most-exposed first.
    * The pigeonhole guarantees every qualifying pair its witness quota
    * inside its smaller side's extended prefix; a witness is lost only
    * when its bucket was dropped, so docs with a FULLY under-cap extended
    * prefix can never lose a pair as the smaller side. Empty result ⇒ the
    * capped-prefix operator is provably identical to the uncapped one on
    * this corpus (the condition is conservative: a flagged doc loses a
    * pair only if the capped buckets eat into its witness quota). The top
    * of this list is the template/boilerplate cluster whose members'
    * rarest shingles are still corpus-dense — exact-dedup those upstream,
    * or raise the cap.
    */
  def ngramContainmentAtRisk(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minContainment: Double = 0.9,
      prefixDfCap: Int = 2000): DataFrame = {
    require(minContainment > 0 && minContainment <= 1.0,
      s"minContainment in (0, 1]: $minContainment")
    require(prefixDfCap > 0, s"need a positive cap: $prefixDfCap")
    prefixWitnessAtRisk(
      shingleSets(docs, textCol, idCol, shingleSize),
      pfThresholdNum(minContainment), prefixDfCap)
  }

  /** Audit for [[ngramJaccardPairs]]'s `prefixDfCap` mode — the Jaccard
    * twin of [[ngramContainmentAtRisk]] (same witness window, same
    * contract: empty result ⇒ the capped operator is provably identical
    * to the exact one; any listed doc could be missing pairs).
    */
  def ngramJaccardAtRisk(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleSize: Int = 3,
      minJaccard: Double = 0.7,
      prefixDfCap: Int = 2000): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1.0,
      s"minJaccard in (0, 1]: $minJaccard")
    require(prefixDfCap > 0, s"need a positive cap: $prefixDfCap")
    prefixWitnessAtRisk(shingleSets(docs, textCol, idCol, shingleSize),
      pfThresholdNum(minJaccard), prefixDfCap)
  }

  /** Edit-distance (Levenshtein) near-dup pairs at or below `maxDist` —
    * the character-level complement of the token-set family: catches
    * small in-word edits (typos, OCR noise, version strings) that word
    * shingles miss entirely. `prefixLen > 0` compares only the first
    * `prefixLen` characters (bounding the O(len·maxDist) DP per pair —
    * the standard trick for long documents, where a shared prefix is the
    * near-dup signal anyway).
    *
    * Scale posture — PassJoin-style pigeonhole segment blocking (Li, Deng
    * & Feng 2011), not a cross join and not a length-bucket join: partition
    * each indexed string into d+1 contiguous segments; if lev(A, B) ≤ d,
    * the ≤ d edits cannot touch ALL d+1 segments of B, so at least one
    * segment appears in A EXACTLY, as a contiguous substring displaced by
    * at most d positions. Candidate generation is therefore an equi-join on
    * (target length, segment index, substring): the indexed side emits its
    * d+1 exact segments; the probe side emits one substring per (existing
    * corpus length within ±d, segment, shift ≤ d) — O(d²) probe rows per
    * doc against the DISTINCT LENGTH dimension (a broadcast of at most a
    * few hundred values), all plain codegen'd `substr`. Position-anchored
    * 6+-char segment matches are sharply selective even when every string
    * has the SAME length — the regime where any length-bucket scheme
    * degenerates into one all-pairs bucket. Survivors are verified with
    * Spark's THRESHOLDED `levenshtein(l, r, d)` — banded O(len·d), not
    * O(len²). Measured on 5 000 fixed-length-40 prefixes: 32 s (length
    * buckets, one degenerate bucket) → ~4.5 s (segment blocking).
    *
    * Candidate volume is governed by segment-bucket sizes: corpora with
    * BOILERPLATE AT ALIGNED POSITIONS (shared headers, templated prefixes)
    * produce hot buckets whose products dominate — on this synthetic
    * template corpus 930 k candidates verify down to 256 pairs. Audit with
    * [[editDistanceHotSegments]] (same arguments) before tuning: a longer
    * `prefixLen`, a later prefix offset, or upstream exact-dedup of the
    * boilerplate all shrink the hot buckets without touching recall.
    */
  // --- PassJoin segment machinery shared by editDistancePairs + its audit.
  // segment i of a length-l string: the first (l mod m) segments are one
  // char longer — start/len are pure integer Column arithmetic
  private def edSegStart(l: Column, i: Int, m: Int): Column =
    lit(i) * floor(l / m).cast("int") + least(lit(i), pmod(l, lit(m)))
  private def edSegLen(l: Column, i: Int, m: Int): Column =
    floor(l / m).cast("int") + when(lit(i) < pmod(l, lit(m)), 1).otherwise(0)

  /** (id, k, l) projection of the comparison key. */
  private def edKeyed(docs: DataFrame, textCol: String, idCol: String,
      prefixLen: Int): DataFrame = {
    val key = if (prefixLen > 0) substring(col(textCol), 1, prefixLen) else col(textCol)
    docs.select(col(idCol).as("id"), key.as("k"), length(key).cast("int").as("l"))
  }

  /** Indexed side of the segment join: each doc's d+1 exact segments keyed
    * by (own length, segment index) — id + segment only, never the whole
    * key (the verifyExactJaccard id-only-bucket discipline).
    */
  private def edSegments(keyed: DataFrame, m: Int): DataFrame =
    keyed.select(col("id").as("id_b"), col("l").as("lb"),
      explode(array((0 until m).map(i =>
        struct(lit(i).as("i"),
          col("k").substr(edSegStart(col("l"), i, m) + 1, edSegLen(col("l"), i, m)).as("sub"))): _*))
        .as("seg"))
      .select(col("id_b"), col("lb"), col("seg.i").as("i"), col("seg.sub").as("sub"))

  /** `maxSegmentBucket = 0` (default) is fully exact. With a positive cap,
    * segment buckets shared by MORE than that many documents are dropped
    * from CANDIDATE GENERATION (an audited cap, as with `prefixDfCap`):
    * surviving pairs still verify with the exact DP, so reported
    * distances never change — the only semantic difference is that a pair
    * whose EVERY matching segment is capped boilerplate is not considered.
    * Audit what a cap excludes with [[editDistanceHotSegments]] — never
    * silent.
    */
  def editDistancePairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDist: Int = 5,
      prefixLen: Int = 0,
      maxSegmentBucket: Int = 0): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    val d = maxDist
    val m = d + 1
    val keyed = edKeyed(docs, textCol, idCol, prefixLen)
    val segments = edSegments(keyed, m)
    val indexed =
      if (maxSegmentBucket <= 0) segments
      else {
        val hot = segments.groupBy(col("lb"), col("i"), col("sub"))
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") > maxSegmentBucket)
          .select(col("lb"), col("i"), col("sub"))
        segments.join(hot, Seq("lb", "i", "sub"), "left_anti")
      }

    // probe side: for every corpus length within ±d (a broadcast dimension
    // of DISTINCT lengths — not a row explosion over the corpus), every
    // segment of that length's layout, every shift |δ| ≤ d — tightened by
    // the multi-match-aware bound (PassJoin §4, Li, Deng & Feng 2011):
    // an untouched segment's displacement δ is paid for by edits BEFORE it
    // (≥ |δ|) while edits AFTER it must absorb the rest of the length
    // change Δ = |A|−|B| (≥ |Δ−δ|), so |δ| + |Δ−δ| ≤ d. EXACT — shifts
    // outside the bound cannot host a witness segment of any qualifying
    // pair — and it cuts probe rows ~2× (Δ=0 allows |δ| ≤ d/2, not d),
    // which shrinks the segment join's output, the Σ bucket² candidate
    // stream, and the distinct exchange behind e18's rehearsal spill.
    //
    // Because EVERY segment is indexed, the bound tightens further with
    // the SEGMENT INDEX (round 15 — the paper's full multi-match-aware
    // selection): take the FIRST untouched segment i of the indexed side
    // as the witness. Its i earlier segments are then all touched, and
    // each edit position lies in exactly one of them, so the edits
    // strictly before the witness number ≥ max(i, |δ|) (the same early
    // edits pay both the touches and the displacement) while the edits
    // after still number ≥ |Δ−δ| — disjoint sets, so
    // max(i, |δ|) + |Δ−δ| ≤ d. EXACT: if an earlier segment is untouched,
    // the pair is generated from THAT segment's probe row (whose own bound
    // holds by the same argument — induction on i).
    val lengths = keyed.select(col("l").as("lb")).distinct()
    val probeSubs = array((for { i <- 0 until m; delta <- -d to d } yield {
      val p = edSegStart(col("lb"), i, m) + delta
      val len = edSegLen(col("lb"), i, m)
      struct(lit(i).as("i"), p.as("p"), len.as("len"), lit(delta).as("dl"))
    }): _*)
    val beforeEdits = greatest(col("ps.i"), abs(col("ps.dl")))
    val probe = keyed
      .join(broadcast(lengths), abs(col("l") - col("lb")) <= d)
      .select(col("id").as("id_a"), col("k").as("k_a"), col("l").as("la"),
        col("lb"), explode(probeSubs).as("ps"))
      .where(col("ps.p") >= 0 && col("ps.p") + col("ps.len") <= col("la") &&
        beforeEdits + abs(col("la") - col("lb") - col("ps.dl")) <= d)
      .select(col("id_a"), col("lb"), col("ps.i").as("i"),
        col("k_a").substr(col("ps.p") + 1, col("ps.len")).as("sub"))

    // id-only candidate pairs; keys re-join AFTER the distinct, so the
    // multi-segment/multi-shift duplication never carries string payloads.
    val pairs = probe.join(indexed, Seq("lb", "i", "sub"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct() // a pair can match via several segments/shifts
    // shuffle-HASH the two key-attach joins (round 16 — the
    // verifyContainment discipline): sort-merge would external-sort the
    // candidate pair stream TWICE with the comparison key attached; the
    // build side is the corpus-sized (id, key) table, which hashes per
    // partition in ~tens of MB at any rehearsed scale
    pairs
      .join(keyed.select(col("id").as("id_a"), col("k").as("k_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(keyed.select(col("id").as("id_b"), col("k").as("k_b"))
        .hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("k_a"), col("k_b"), maxDist).cast("long").as("dist"))
      .where(col("dist") >= 0)
  }

  /** Audit for [[editDistancePairs]]'s candidate volume: segment buckets
    * shared by more than `minBucket` documents, as (length, segment index,
    * segment text, n_docs), hottest first. A bucket of B docs contributes
    * ~B² candidate DPs, so the top of this list IS the cost driver —
    * aligned boilerplate (templated prefixes, shared headers) shows up
    * verbatim in the `sub` column, telling the pipeline author what to
    * exact-dedup or skip (prefix offset) upstream. Same argument set as the
    * operator — never a silent cost.
    */
  def editDistanceHotSegments(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxDist: Int = 5,
      prefixLen: Int = 0,
      minBucket: Int = 64): DataFrame =
    edSegments(edKeyed(docs, textCol, idCol, prefixLen), maxDist + 1)
      .groupBy(col("lb"), col("i"), col("sub"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > minBucket)
      .orderBy(col("n_docs").desc, col("lb"), col("i"), col("sub"))

  /** Transitive duplicate groups from a near-dup pair list: connected
    * components over the similarity graph (duplicate clusters are rarely
    * clean pairs — A≈B≈C must collapse to ONE keeper even when A~C missed
    * the similarity cut). Every doc is labeled with the MINIMUM id of its
    * component, which doubles as the keeper id.
    *
    * Default path: DataFrame-native alternating large-star / small-star
    * (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond")
    * — each round is two hash-aggregate + join passes over the edge list,
    * entirely inside Tungsten/whole-stage-codegen and under AQE, converging
    * in O(log² n) rounds (vs O(diameter) for plain label propagation; on
    * the clique-shaped dedup graphs both are a handful). GraphX's Pregel
    * connected components is the equivalence reference in test scope
    * (DedupSpec pins identical labels).
    *
    * Returns (id, group_id); docs absent from `pairs` are their own group.
    */
  def dupGroups(allIds: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    // Vertex ids are Long (the pair list and the node universe are cast to
    // long below). A silent cast("long") on a string/UUID id column yields
    // nulls and garbage components — refuse non-integral ids loudly
    // instead. Hash string ids to long upstream (xxhash64(col) — collision
    // odds ~n²/2⁶⁵) and keep the mapping to join back.
    def requireIntegral(df: DataFrame, c: String): Unit = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case other => throw new IllegalArgumentException(
          s"dupGroups needs an integral id column (vertex ids are Long); " +
            s"'$c' is ${other.catalogString}. Hash string ids to long explicitly " +
            s"(e.g. xxhash64) and join the mapping back — do not rely on a cast.")
      }
    }
    requireIntegral(allIds, idCol)
    requireIntegral(pairs, "id_a")
    requireIntegral(pairs, "id_b")
    // materialize the pair list ONCE (often the output of an expensive
    // candidate join): the CC loop AND the node-universe union both read
    // it, and without the cut each reference would recompute the whole
    // pair generation. The pinned blocks belong to the returned frame
    // (see [[graft.ops.Layout.pin]]).
    val pc = graft.ops.Layout.pin(pairs.select(
      col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b")))
    val ep = pc.select(col("id_a").as("node"))
      .union(pc.select(col("id_b").as("node")))
    val labels = ccLargeSmallStar(pc)
    // the node universe is allIds ∪ edge endpoints; unlabeled nodes
    // (singletons and component minima) label themselves
    allIds.select(col(idCol).cast("long").as("node"))
      .union(ep).where(col("node").isNotNull).distinct()
      .join(labels, Seq("node"), "left")
      .select(col("node").as(idCol),
        coalesce(col("group_id"), col("node")).as("group_id"))
  }

  /** Alternating large-star / small-star connected components (Kiveris et
    * al. 2014) over an undirected edge list — pure DataFrame self-joins and
    * min-aggregates, no RDDs. Each round:
    *
    *  - '''large-star''': for every node `a`, attach each STRICTLY LARGER
    *    neighbor `b > a` to `m = min(Γ(a) ∪ {a})`. Every edge survives from
    *    its smaller endpoint's perspective, so no connectivity is lost.
    *  - '''small-star''': orient edges to the larger endpoint `u`; attach
    *    `u` and all its (smaller) neighbors to their minimum.
    *
    * Both passes strictly shrink the potential Σ(node − its min reachable
    * neighbor); at the fixed point the edge set is a collection of stars
    * `(member, component-min)`. Convergence is detected by an order-
    * invariant fingerprint (count + sum of per-edge xxhash64) — one tiny
    * aggregate per round on the frame the round materialized anyway.
    *
    * Scale shape: per round, each star pass computes its neighborhood min
    * with a whole-partition window over the node-hashed adjacency — ONE
    * exchange per pass (a groupBy + join-back would exchange the adjacency
    * twice) and no join; the edge frame is `localCheckpoint`ed each
    * round (lineage cut — the PageRank discipline) and the previous round's
    * blocks are released as soon as the next materializes, so live storage
    * is O(1) rounds.
    *
    * Returns (node, group_id) for every node that appears in `pairs` and is
    * NOT its component's minimum; minima (and nodes absent from `pairs`)
    * are the caller's to label themselves.
    */
  private def ccLargeSmallStar(pairs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    def pinCut(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, (sc.getPersistentRDDs.keySet -- before).toSeq
        .flatMap(sc.getPersistentRDDs.get))
    }
    // orient u > v, drop self-loops, dedup
    var (edges, held) = pinCut(pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct())
    def fingerprint(e: DataFrame): (Long, BigDecimal) = {
      // sum the 64-bit hashes in DECIMAL(38,0) — a long sum overflows ANSI
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    var prev = fingerprint(edges)
    var round = 0
    var converged = prev._1 == 0L
    while (!converged && round < maxRounds) {
      import org.apache.spark.sql.expressions.Window
      // large-star: Γ over both directions; m = min(Γ(a) ∪ {a}) ≤ a < b,
      // so emitted edges are already (larger, smaller)-oriented. The
      // neighborhood min rides a whole-partition window (ONE exchange of
      // the adjacency; a groupBy+join would exchange it twice), and
      // duplicate edges are harmless to a min, so no intra-round distinct.
      val adj = edges.select(col("u").as("a"), col("v").as("b"))
        .union(edges.select(col("v").as("a"), col("u").as("b")))
      val ls = adj
        .withColumn("m", least(min(col("b")).over(Window.partitionBy(col("a"))), col("a")))
        .where(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v"))
      // small-star: all neighbors of u are < u here; m = min(Γ(u)) < u.
      // Same window shape; the union's two branches reuse the one exchange.
      val lsm = ls.withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
      val ss = lsm.select(col("v").as("node"), col("m"))
        .union(lsm.select(col("u").as("node"), col("m")))
        .where(col("node") =!= col("m"))
        .select(col("node").as("u"), col("m").as("v"))
        .distinct()
      val (next, nextHeld) = pinCut(ss)
      val cur = fingerprint(next)
      held.foreach(_.unpersist(blocking = false))
      edges = next; held = nextHeld
      converged = cur == prev
      prev = cur
      round += 1
    }
    require(converged,
      s"connected components did not converge in $maxRounds rounds")
    // at the fixed point every edge is (member, component-min)
    edges.select(col("u").as("node"), col("v").as("group_id"))
  }

  /** End-to-end near-dedup: MinHash candidate pairs → transitive groups →
    * min-id keeper rows. The full training-pipeline dedup pass.
    */
  def nearDedupRows(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minJaccard: Double = 0.7): DataFrame =
    nearDedupRowsFrom(docs,
      minhashNearDupNative(docs, textCol, idCol, minJaccard = minJaccard), idCol)

  /** The same groups→keepers tail for ANY pair generator — every near-dup
    * family here emits the same (id_a, id_b, …) pair shape, so
    * [[ngramJaccardPairs]], [[ngramContainmentPairs]], [[editDistancePairs]],
    * [[embeddingNearDup]], or a union of several can drive the pass:
    * `nearDedupRowsFrom(docs, editDistancePairs(docs, maxDist = 2))`.
    */
  def nearDedupRowsFrom(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val groups = dupGroups(docs.select(col(idCol)), pairs.select(col("id_a"), col("id_b")), idCol)
    val keepers = groups.groupBy(col("group_id")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    docs.join(keepers, Seq(idCol), "left_semi").dropDuplicates(idCol)
  }

  /** Quality-aware keeper selection: like [[nearDedupRowsFrom]] but each
    * duplicate cluster keeps its BEST row — the one maximizing `scoreCol`
    * (ties to the LOWEST id, so the choice is a property of the data) —
    * instead of the arbitrary min-id. This is what a curation pipeline
    * actually wants: among near-identical variants keep the longest /
    * cleanest / highest-LM-scored one, drop the truncated and boilerplated
    * copies (pair a [[graft.ext.TextStats.qualityScore]] or
    * [[graft.ext.LangModel.lmScore]] column with any pair family).
    *
    * Shape: the CC groups join (bounded id/group rows), one per-group
    * argmax via max(struct(score, −id))) — a hash aggregate, no window —
    * then the left-semi keep. Null scores sort below every non-null score
    * (coalesced to −∞ via the struct's null-first ordering being avoided
    * explicitly), so an all-null-score cluster still keeps min id.
    */
  def nearDedupRowsKeepBest(docs: DataFrame, pairs: DataFrame,
      scoreCol: String, idCol: String = "doc_id"): DataFrame = {
    require(docs.columns.contains(scoreCol), s"missing score column $scoreCol")
    val groups = dupGroups(docs.select(col(idCol)),
      pairs.select(col("id_a"), col("id_b")), idCol)
    val scored = groups.join(
      docs.select(col(idCol),
        coalesce(col(scoreCol).cast("double"), lit(Double.MinValue)).as("__s"))
        .dropDuplicates(idCol),
      Seq(idCol))
    val keepers = scored
      .groupBy(col("group_id"))
      .agg(max(struct(col("__s"), (-col(idCol)).as("__negid"))).as("__w"))
      .select((-col("__w.__negid")).as(idCol))
    docs.join(keepers, Seq(idCol), "left_semi").dropDuplicates(idCol)
  }

  // ---- substring-level dedup: repeated spans ACROSS documents ----

  /** Per-doc sliding span seeds — (idCol, pos, span), pos 0-based. The
    * seed frame every span-family consumer joins survivors back onto.
    */
  private def spanSeeds(docs: DataFrame, n: Int,
      idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      filter(split(normText(col(textCol)), "\\s+"), t => length(t) > 0).as("__toks"))
    toks
      .where(size(col("__toks")) >= n)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - n),
        i => array_join(slice(col("__toks"), i + 1, lit(n)), " "))).as(Seq("pos", "span")))
  }

  /** Distinct-document counts per span — (__span_key, n_docs), the
    * POSTING TABLE of the span family. The key is renamed because joining
    * an aggregate back onto its own input on the SAME attribute trips
    * Spark's ambiguous-self-join detection.
    */
  private def spanDocCounts(docs: DataFrame, n: Int,
      idCol: String, textCol: String): DataFrame =
    spanSeeds(docs, n, idCol, textCol)
      .select(col(idCol), col("span").as("__span_key"))
      .groupBy(col("__span_key"))
      .agg(countDistinct(col(idCol)).as("n_docs"))

  /** Flag every word-level `n`-token span that occurs verbatim in at least
    * `minDocs` distinct documents — substring-level dedup, the companion to
    * doc-level near-dup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": memorized spans repeat across documents long
    * before whole documents do; the within-doc signal is
    * [[TextStats.repetitionStats]]).
    *
    * Output: one row per (doc, position) covered by a cross-document span —
    * (idCol, pos, span, n_docs), `pos` the 0-based token offset.
    *
    * Scale shape: posexplode of per-doc sliding windows (no shuffle), one
    * hash-aggregate shuffle on the span text to count distinct docs, one
    * shuffle back to join survivors.
    */
  def repeatedSpans(docs: DataFrame, n: Int = 10, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2 && minDocs >= 2, s"need n >= 2 and minDocs >= 2: n=$n minDocs=$minDocs")
    val spans = spanSeeds(docs, n, idCol, textCol)
    val shared = spanDocCounts(docs, n, idCol, textCol)
      .where(col("n_docs") >= minDocs)
    spans.join(shared, col("span") === col("__span_key"))
      .select(col(idCol), col("pos"), col("span"), col("n_docs"))
  }

  /** MAXIMAL repeated regions per document: overlapping/adjacent
    * [[repeatedSpans]] hits merged into (start_pos, end_pos) token ranges —
    * the fixed-window seeds coalesced toward Lee et al. 2022's
    * arbitrary-length repeated-substring output (their suffix-array
    * "maximal match" without the non-distributable suffix array: a region
    * is maximal up to the n-token seed resolution at its edges).
    *
    * Gaps-and-islands over each doc's hit positions: a region continues
    * while the next seed starts within `n` tokens of the previous (its
    * coverage overlaps or touches), i.e. one lag + running-sum window over
    * the HITS frame (tiny — hits only, not the corpus), then one group-by.
    * `end_pos` is exclusive: the region covers tokens [start_pos, end_pos).
    */
  def repeatedSpanRanges(docs: DataFrame, n: Int = 10, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hits = repeatedSpans(docs, n, minDocs, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("__gap",
        when(col("pos") - lag(col("pos"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("__island", sum(col("__gap")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + lit(n)).as("end_pos"),
        count(lit(1)).as("n_spans"))
      .select(col(idCol), col("start_pos"), col("end_pos"), col("n_spans"))
  }

  /** Remove cross-document repeated spans from the text: every token covered
    * by a [[repeatedSpans]] hit is dropped, the survivors re-joined with
    * single spaces as `clean_text` (normalized casing/whitespace — same
    * [[normText]] canonicalization the span detection ran on). Documents
    * with no repeated span pass through with their normalized text intact.
    * The curation-pipeline step after doc-level dedup: dedup removes whole
    * near-copies, this removes boilerplate/license/template spans embedded
    * in otherwise-unique documents.
    *
    * `keepFirst=true` is the Lee et al. 2022 "all but one occurrence"
    * semantic: each span's globally-first occurrence (min doc id, then min
    * position) survives, so ONE copy of the repeated content stays in the
    * corpus instead of vanishing from it. One extra window over the span
    * hits (tiny frame — hits only, not the corpus).
    *
    * Adds one groupBy on the doc id (span starts per doc) and a left join;
    * the cover test is a codegen'd HOF over per-row arrays, no UDF.
    */
  def maskRepeatedSpans(docs: DataFrame, n: Int = 10, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      keepFirst: Boolean = false): DataFrame = {
    val hits = repeatedSpans(docs, n, minDocs, idCol, textCol)
    val flagged =
      if (!keepFirst) hits
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("span")).orderBy(col(idCol), col("pos"))
        hits.withColumn("__occ", row_number().over(w))
          .where(col("__occ") > 1).drop("__occ")
      }
    val starts = flagged
      .groupBy(col(idCol).as("__mask_id"))
      .agg(collect_set(col("pos")).as("__starts"))
    docs.join(starts, col(idCol) === col("__mask_id"), "left")
      .withColumn("__toks",
        filter(split(normText(col(textCol)), "\\s+"), t => length(t) > 0))
      .withColumn("__starts", coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("clean_text",
        when(size(col("__toks")) === 0, lit(""))
          .otherwise(array_join(expr(
            s"""filter(
               |  transform(sequence(0, size(__toks) - 1),
               |    i -> IF(exists(__starts, s -> i >= s AND i < s + $n), NULL, __toks[i])),
               |  x -> x IS NOT NULL)""".stripMargin), " ")))
      .drop("__mask_id", "__starts", "__toks")
  }

  /** Flag every batch span that repeats across `corpus` plus the batch
    * itself: `(idCol, pos, span, n_docs)` with `n_docs` = corpus distinct
    * docs + batch distinct docs — EXACTLY [[repeatedSpans]] over
    * (corpus ∪ batch) restricted to batch rows (spec-pinned; batch and
    * corpus doc-id sets are disjoint). The corpus side reduces to its
    * posting table in one pass, the batch never joins corpus-sized text;
    * batch seeds + batch counts are LEFT-joined onto the posting table (a
    * span new to the corpus still counts its batch occurrences), then
    * thresholded on the combined distinct-doc count. The downstream
    * mask/dedup tail ([[maskRepeatedSpans]]'s cover test,
    * [[repeatedSpanRanges]]) composes on this output exactly as on
    * [[repeatedSpans]]'s.
    */
  def spanLookup(batch: DataFrame, corpus: DataFrame, n: Int = 10,
      minDocs: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, s"need minDocs >= 2: $minDocs")
    val corpusCounts = spanDocCounts(corpus, n, idCol, textCol)
      .select(col("__span_key"), col("n_docs").as("__corpus_docs"))
    val seeds = spanSeeds(batch, n, idCol, textCol)
    val batchCounts = spanDocCounts(batch, n, idCol, textCol)
      .select(col("__span_key"), col("n_docs").as("__batch_docs"))
    val shared = batchCounts
      .join(corpusCounts, Seq("__span_key"), "left")
      .select(col("__span_key"),
        (coalesce(col("__corpus_docs"), lit(0L)) + col("__batch_docs")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    seeds.join(shared, col("span") === col("__span_key"))
      .select(col(idCol), col("pos"), col("span"), col("n_docs"))
  }

  /** Deterministic pseudo-random hyperplane coefficient matrix: plane p,
    * dim i → hash-derived double in [-1, 1). Same formula the per-row HOF
    * used (xxhash64 of "p:i", seed 42, pmod-folded to [-1, 1) — pinned
    * bit-identical in DedupSpec), but evaluated ONCE here: the coefficients
    * are a pure function of (p, i), so hashing them per ROW was O(dim ×
    * nPlanes) wasted hash evals on every vector in the corpus.
    */
  private[ext] def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { i =>
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"$p:$i"), 42L)
        val m = 2000001L
        ((h % m) + m) % m / 1000000.0 - 1.0
      }
    }

  /** Packed sign-of-dot signature against a precomputed hyperplane matrix:
    * the coefficient rows enter the plan as array LITERALS, so the per-row
    * work is nPlanes codegen'd zip_with/aggregate dot products — no hashing.
    */
  private[ext] def hyperplaneSig(vc: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (coefs, p) =>
      val dot = aggregate(
        zip_with(vc, typedLit(coefs), (x, c) => x * c),
        lit(0.0), (s, x) => s + x)
      when(dot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Embedding-cosine near-duplicate pairs above `minCosine`, via the same
    * band-bucket idea: random-hyperplane LSH signatures (sign of dot with a
    * seeded pseudo-random vector, SimHash-for-vectors) bucket candidates, the
    * exact cosine then filters. See [[Similarity.cosine]].
    *
    * The embedding column is assumed fixed-width (the universal contract for
    * an embedding table); the width is probed from one row.
    */
  def embeddingNearDup(
      emb: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      minCosine: Double = 0.95,
      nPlanes: Int = 16,
      bands: Int = 4): DataFrame = {
    // band keys assembled directly per band (bit j of band b = sign of
    // plane b·bitsPerBand + j) — identical to the historical single-long
    // pack for nPlanes ≤ 63 and unbounded above it (multi-word signatures;
    // see [[embeddingNearDupMd5]] / [[autoBanding]])
    require(nPlanes % bands == 0 && nPlanes / bands <= 63,
      s"need bands | nPlanes with <= 63 bits per band: nPlanes=$nPlanes bands=$bands")
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val dimRow = v.select(size(col("v"))).limit(1).collect()
    if (dimRow.isEmpty)
      return v.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cosine")).where(lit(false))
    val planes = hyperplanes(nPlanes, dimRow.head.getInt(0))
    val bitsPerBand = nPlanes / bands
    val banded = v.select(col("id"), col("v"),
      explode(array((0 until bands).map { b =>
        val key = hyperplaneSig(col("v"),
          (0 until bitsPerBand).map(j => planes(b * bitsPerBand + j)))
        struct(lit(b).as("band"), key.as("key"))
      }: _*)).as("bk"))
    val a = banded.select(col("id").as("id_a"), col("v").as("v_a"), col("bk"))
    val b = banded.select(col("id").as("id_b"), col("v").as("v_b"), col("bk"))
    a.join(b, Seq("bk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .distinct()
      .where(col("cosine") >= minCosine)
  }

  /** Driver-side md5 hex (lowercase) — same digest Spark's `md5()` and
    * DuckDB's `md5()` emit, computed once per hyperplane coefficient
    * instead of per row (the coefficients are a pure function of
    * (plane, dim), exactly like [[hyperplanes]]).
    */
  private def md5HexDriver(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** ENGINE-PORTABLE hyperplane coefficient matrix for
    * [[embeddingNearDupMd5]]: plane p, dim i → integer coefficient in
    * [-10⁶, 10⁶], derived from [[md5Hash60]]`("p:i")` folded mod 2·10⁶+1 —
    * the [[hyperplanes]] formula with the hash swapped from xxhash64 to
    * md5 and the [-1, 1) double scaled by 10⁶ into an INTEGER, so the
    * downstream dot products stay in exact arithmetic (see
    * [[embeddingNearDupMd5]]). Values and the fold are replayed verbatim
    * by [[embeddingNearDupMd5Sql]]; DedupSpec pins this driver-side md5
    * against Spark's in-engine `md5()` + `conv` decode.
    */
  private[ext] def hyperplanesMd5(nPlanes: Int, dim: Int): Seq[Seq[Long]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { i =>
        val h = java.lang.Long.parseLong(md5HexDriver(s"$p:$i").substring(0, 15), 16)
        (h % 2000001L) - 1000000L
      }
    }

  /** Corpus-size-scaled hyperplane count for [[embeddingNearDupMd5]] /
    * [[embeddingNearDup]] — the e31 √n discipline applied to LSH banding.
    * At FIXED band bits, per-band bucket occupancy is n / 2^bits, so
    * candidate volume grows ~n²/2^bits (the e93 sf10 rehearsal measured
    * ×34 at 100× data). Scaling bits with the corpus pins the expected
    * bucket occupancy instead: `bits = ⌈log₂(n / 64)⌉` clamped to
    * [minBits, maxBits], `nPlanes = bands · bits`. The trade is recall on
    * NON-IDENTICAL near-dups (P[band match] = (1 − θ/π)^bits per band;
    * exact copies collide at any width) — measured with a planted-pair
    * harness per round (last in-tree at c7bf663, BASELINE.md carries the
    * numbers); at the verify corpus (≤4k vectors)
    * the rule lands exactly on the historical 32 planes, so the static
    * oracle mirror stays valid and [[graft.Verify]] pre-flights that.
    */
  def autoPlanes(nRows: Long, bands: Int = 4, minBits: Int = 8,
      maxBits: Int = 15): Int = {
    require(bands > 0 && minBits > 0 && maxBits >= minBits &&
      bands * maxBits <= 63, s"invalid banding: bands=$bands bits=[$minBits,$maxBits]")
    val bits = math.ceil(
      math.log(math.max(nRows, 1L).toDouble / 64.0) / math.log(2.0)).toInt
    bands * math.min(maxBits, math.max(minBits, bits))
  }

  /** RECALL-TARGETED hyperplane banding — the production rule ([[autoPlanes]]
    * holds bands at 4 and scales bits with the corpus, which buys bucket
    * drain by SPENDING recall: the round-13 planted-pair harness measured
    * 65.9% recall at auto-52 vs 90.2% at fixed-32 over 400k vectors, both
    * matching the theory `R = 1 − (1 − p^bits)^bands`, `p = 1 − θ/π`).
    * This solves the inverse problem instead: given the operator's
    * `minCosine` and a target recall for pairs AT the threshold (pairs
    * above it only do better), enumerate every (bits, bands) with
    * `bands = ⌈ln(1/(1−R)) / p^bits⌉` that fits one 64-bit signature
    * (`bands·bits ≤ 63`) and return the `(nPlanes, bands)` minimizing
    * expected candidate volume `bands / 2^bits` (per-row bucket occupancy
    * is `n/2^bits` per band). At minCosine 0.95, R 0.9 this lands on
    * 7 bands × 9 bits = 63 planes — ~96% theoretical recall at LOWER cost
    * than fixed-32's 89% (n/73 vs n/64 candidate mass) — measured with
    * the planted-pair harness (BASELINE.md, e93band). The frontier is
    * corpus-size-INDEPENDENT within one signature word: every option's
    * candidate volume scales ∝ n²; past ~10⁹ rows per partition-group
    * the answer is more signature WORDS (bands beyond 63/bits), not a
    * different split of 63 bits —
    * IMPLEMENTED (round 14): pass `maxSignatureBits > 63` and feed the
    * resulting (nPlanes, bands) to [[embeddingNearDupMd5]] /
    * [[embeddingNearDup]], which assemble each band's ≤63-bit key directly
    * from its own plane subset, so a signature may span any number of
    * words. The planted-pair harness measured the frontier break
    * (BASELINE.md, e93wide):
    * at minCosine 0.9, occupancy-driven minBits 12, NO single-word split
    * reaches 95% recall (4×13 tops out at ~43% theoretical) while
    * 20 bands × 12 bits (240 planes) does.
    */
  def autoBanding(minCosine: Double, targetRecall: Double = 0.9,
      minBits: Int = 6, maxBits: Int = 15,
      maxSignatureBits: Int = 63): (Int, Int) = {
    require(minCosine > 0.0 && minCosine < 1.0, s"minCosine in (0,1): $minCosine")
    require(targetRecall > 0.0 && targetRecall < 1.0, s"targetRecall in (0,1): $targetRecall")
    require(maxSignatureBits >= minBits,
      s"maxSignatureBits < minBits: $maxSignatureBits < $minBits")
    val best = bandingOption(minCosine, targetRecall, minBits, maxBits, maxSignatureBits)
    require(best.nonEmpty,
      s"no (bits, bands) with bands*bits <= $maxSignatureBits reaches recall " +
        s"$targetRecall at minCosine $minCosine — lower the target or raise " +
        s"maxSignatureBits (multi-word signatures: [[embeddingNearDupMd5]] " +
        s"assembles band keys directly, so nPlanes may exceed 63)")
    val (bits, bands) = best.get
    (bits * bands, bands)
  }

  /** Cheapest feasible (bits, bands) for [[autoBanding]]'s enumeration, or
    * None when no split under `maxSignatureBits` reaches the target. */
  private def bandingOption(minCosine: Double, targetRecall: Double,
      minBits: Int, maxBits: Int, maxSignatureBits: Int): Option[(Int, Int)] = {
    val p = 1.0 - math.acos(minCosine) / math.Pi
    val need = math.log(1.0 / (1.0 - targetRecall))
    val options = for {
      bits <- minBits to maxBits
      bands = math.max(1, math.ceil(need / math.pow(p, bits)).toInt)
      if bands.toLong * bits <= maxSignatureBits
    } yield (bits, bands)
    if (options.isEmpty) None
    else Some(options.minBy { case (bt, bd) => bd / math.pow(2.0, bt) })
  }

  /** ONE-CALL production banding (round 15 — the wide mode selected
    * automatically, not passed in): derives the occupancy bit floor from
    * the CORPUS SIZE (the [[autoPlanes]] rule: `bits ≥ ⌈log₂(n/64)⌉`, so
    * expected per-band bucket occupancy stays ≲64), then
    *
    *  1. stays within ONE 64-bit signature word whenever some split
    *     reaches `targetRecall` there (the round-13-measured regime:
    *     7×9 = 63 hit 95.1% recall strictly dominating fixed-32), and
    *  2. widens to multi-word signatures ONLY in the genuine >63-bit
    *     regime — when NO single-word split at the occupancy floor can
    *     reach the target (the round-14 e93wide measurement: at 400k
    *     vectors, minCosine 0.9, R 0.95, the best single word tops out at
    *     ~50% recall; this rule lands on 31 bands × 15 bits = 465 planes,
    *     measured 97.8% recall) — under a `wideBudgetBits` sanity ceiling
    *     (default 512 = 8 words; feasibility there is pinned by spec, and
    *     a target so aggressive it bursts 8 words is a parameter error,
    *     not a corpus property).
    *
    * Feed the result to [[embeddingNearDup]] / [[embeddingNearDupMd5]] —
    * both assemble per-band keys directly, so nPlanes may exceed 63.
    * Callers: pass the corpus row count (cheap metadata — parquet
    * footers), NOT a default; the floor is the point.
    */
  def autoWideBanding(nRows: Long, minCosine: Double,
      targetRecall: Double = 0.9, minBits: Int = 6, maxBits: Int = 15,
      wideBudgetBits: Int = 512): (Int, Int) = {
    val occ = math.ceil(
      math.log(math.max(nRows, 1L).toDouble / 64.0) / math.log(2.0)).toInt
    val floor = math.min(maxBits, math.max(minBits, occ))
    val pick = bandingOption(minCosine, targetRecall, floor, maxBits, 63)
      .orElse(bandingOption(minCosine, targetRecall, floor, maxBits, wideBudgetBits))
    require(pick.nonEmpty,
      s"no (bits, bands) within $wideBudgetBits signature bits reaches " +
        s"recall $targetRecall at minCosine $minCosine (bit floor $floor " +
        s"from $nRows rows) — lower the target")
    val (bits, bands) = pick.get
    (bits * bands, bands)
  }

  /** ENGINE-PORTABLE embedding near-dup: the [[embeddingNearDup]] pipeline
    * (hyperplane-LSH signature → band buckets → candidate pairs → exact
    * cosine verification) in a form an independent engine replays bit for
    * bit (mirror: [[embeddingNearDupMd5Sql]]). Two substitutions make the
    * band assignment EXACT rather than epsilon-dependent:
    *
    *  - the coefficients are md5-derived integers ([[hyperplanesMd5]]),
    *    not xxhash-derived doubles;
    *  - each vector is quantized ONCE to `floor(x·10⁶)` (floor, not
    *    round — no tie-breaking semantics for engines to disagree on) and
    *    the per-plane dot is a sum of Long products. With |coef| ≤ 10⁶,
    *    every partial sum stays under 2⁵³ as long as
    *    dim · max|x| ≤ ~9000 (unit-scale embeddings are safe through dim
    *    4096), so an engine computing the sum in doubles (DuckDB) still
    *    gets the exact integer — sign-of-dot, and therefore the
    *    signature, band keys and candidate set, are identical by
    *    construction, not approximately.
    *
    * Verification cosine is computed on the ORIGINAL doubles, 4dp-rounded
    * and thresholded on the rounded value (the e02/e31 discipline). The
    * xxhash form stays the fast path, though here the gap is small: both
    * enter the plan as literal matrices, and the integer dots codegen the
    * same as the double dots. Output (id_a, id_b, cosine), each pair once.
    */
  def embeddingNearDupMd5(
      emb: DataFrame,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      minCosine: Double = 0.95,
      nPlanes: Int = 32,
      bands: Int = 4): DataFrame = {
    // MULTI-WORD signatures (round 14): nPlanes may exceed 63 — each band's
    // ≤63-bit key is assembled DIRECTLY from its own plane subset (bit j of
    // band b = sign of plane b·bitsPerBand + j), which for nPlanes ≤ 63 is
    // bit-identical to the historical pack-into-one-long-then-shift form
    // (the e93 DuckDB mirror still replays THAT form, so the verify gate
    // pins the identity) and for nPlanes > 63 is the "more signature words"
    // regime the autoBanding scaladoc names: the >10⁹-row frontier where no
    // split of 63 bits can reach both bucket drain and target recall.
    require(nPlanes % bands == 0 && nPlanes / bands <= 63,
      s"need bands | nPlanes with <= 63 bits per band: nPlanes=$nPlanes bands=$bands")
    val v = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val dimRow = v.select(size(col("v"))).limit(1).collect()
    if (dimRow.isEmpty)
      return v.select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0).as("cosine")).where(lit(false))
    val planes = hyperplanesMd5(nPlanes, dimRow.head.getInt(0))
    val vq = v.withColumn("q", transform(col("v"), x => floor(x * lit(1e6)).cast("long")))
    val bitsPerBand = nPlanes / bands
    def signBit(coefs: Seq[Long], j: Int): Column = {
      val dot = aggregate(
        zip_with(col("q"), typedLit(coefs), (x, c) => x * c),
        lit(0L), (s, x) => s + x)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }
    val banded = vq.select(col("id"), col("v"),
      explode(array((0 until bands).map { b =>
        val key = (0 until bitsPerBand)
          .map(j => signBit(planes(b * bitsPerBand + j), j))
          .reduce((x, y) => x.bitwiseOR(y))
        struct(lit(b).as("band"), key.as("key"))
      }: _*)).as("bk"))
    val a = banded.select(col("id").as("id_a"), col("v").as("v_a"), col("bk"))
    val b = banded.select(col("id").as("id_b"), col("v").as("v_b"), col("bk"))
    a.join(b, Seq("bk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosine(col("v_a"), col("v_b")), 4).as("cosine"))
      .distinct()
      .where(col("cosine") >= minCosine)
  }

  /** Generated DuckDB mirror of [[embeddingNearDupMd5]] over `idCol,
    * vecCol` of `table` (which may be a parenthesized subquery — e.g. a
    * doubled corpus): same md5-folded integer coefficients, same
    * floor-quantized integer dots, same sign-pack, same band keys, same
    * 4dp cosine verification, emitted from the SAME constants. `dim` must
    * match the table's embedding width (the Spark side probes it from
    * data; SQL needs it literal).
    */
  def embeddingNearDupMd5Sql(
      table: String,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      minCosine: Double = 0.95,
      nPlanes: Int = 32,
      bands: Int = 4,
      dim: Int = 64): String = {
    // the mirror replays the HISTORICAL single-long sign-pack (sig >> b·bpb)
    // — it exists to pin the ≤63-plane declared form, not the multi-word
    // fast path, whose band keys are definitionally identical per band
    require(nPlanes <= 63, s"SQL mirror pins the single-word form: $nPlanes")
    val bitsPerBand = nPlanes / bands
    s"""WITH pl AS (
       |  SELECT p, i, ((${md5Hex60Sql("m")}) % 2000001) - 1000000 AS c
       |  FROM (
       |    SELECT p.p AS p, i.i AS i,
       |      md5(CAST(p.p AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)) AS m
       |    FROM (SELECT unnest(range(0, $nPlanes)) AS p) p
       |    CROSS JOIN (SELECT unnest(range(0, $dim)) AS i) i)
       |), vq AS (
       |  SELECT $idCol, CAST($vecCol AS DOUBLE[]) AS v,
       |    [CAST(floor(x * 1000000.0) AS BIGINT) FOR x IN CAST($vecCol AS DOUBLE[])] AS q
       |  FROM $table
       |), vx AS (
       |  SELECT $idCol, i.i AS i, q[i.i + 1] AS qv
       |  FROM vq CROSS JOIN (SELECT unnest(range(0, $dim)) AS i) i
       |), dots AS (
       |  SELECT v.$idCol, p.p AS p, CAST(SUM(v.qv * p.c) AS BIGINT) AS dot
       |  FROM vx v JOIN pl p ON v.i = p.i
       |  GROUP BY 1, 2
       |), sig AS (
       |  SELECT $idCol,
       |    CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
       |             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
       |  FROM dots GROUP BY 1
       |), bands AS (
       |  SELECT $idCol, b.b AS band,
       |    (sig >> (b.b * $bitsPerBand)) & ${(1L << bitsPerBand) - 1} AS key
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) b
       |), cand AS (
       |  SELECT DISTINCT a.$idCol AS id_a, b.$idCol AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.$idCol < b.$idCol
       |)
       |SELECT id_a, id_b, cosine FROM (
       |  SELECT c.id_a, c.id_b,
       |    round(list_cosine_similarity(a.v, b.v), 4) AS cosine
       |  FROM cand c
       |  JOIN vq a ON c.id_a = a.$idCol
       |  JOIN vq b ON c.id_b = b.$idCol
       |)
       |WHERE cosine >= $minCosine
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Fuzzy string pairs by Jaro-Winkler — the entity-resolution pair
    * generator (name/alias matching) built on the native
    * [[graft.functions.JaroWinkler]] expression. Candidate generation is
    * BLOCKED, never all-pairs: strings meet only when they share a first
    * character AND their lengths differ by ≤ `lenBand` (one side explodes
    * into its 2·band+1 length buckets, so the probe is an equi-join on
    * (first-char, length) — the banding pattern every near-dup family here
    * uses). The JW score is computed once per candidate, 4dp-rounded, and
    * thresholded on the rounded value (the e02/e31 discipline).
    *
    * The blocking is a RECALL contract, stated plainly: pairs differing in
    * their first character (or by more than `lenBand` in length) are never
    * scored — for Jaro-Winkler specifically a cheap first-char block is
    * standard practice, because the metric itself weights the shared
    * prefix. Output: (s_a, s_b, jw) with s_a < s_b, each pair once.
    */
  def jaroWinklerPairs(strings: DataFrame, strCol: String,
      minJw: Double = 0.92, lenBand: Int = 2): DataFrame = {
    require(lenBand >= 0, s"lenBand must be >= 0: $lenBand")
    val base = strings.select(col(strCol).cast("string").as("s"))
      .where(col("s").isNotNull && length(col("s")) > 0)
      .distinct()
      .withColumn("blk", substring(col("s"), 1, 1))
      .withColumn("len", length(col("s")))
    val probe = base.select(col("s").as("s_b"), col("blk"),
      explode(sequence(col("len") - lenBand, col("len") + lenBand)).as("len"))
    base.select(col("s").as("s_a"), col("blk"), col("len"))
      .join(probe, Seq("blk", "len"))
      .where(col("s_a") < col("s_b"))
      .select(col("s_a"), col("s_b"),
        round(graft.functions.JaroWinkler.jaroWinkler(col("s_a"), col("s_b")), 4)
          .as("jw"))
      .where(col("jw") >= minJw)
  }
}
