package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.Caching.PersistSyntax

/** Deduplication operators for LLM training corpora (SURVEY §2C).
  *
  * Scale shape: signature computation (shingles → minhash / simhash) is a
  * narrow per-row map with zero shuffles; the only wide stages are the
  * LSH band `groupBy` (cardinality ≈ rows × bands, keys are 64-bit
  * hashes so they distribute uniformly) and the candidate-verify join.
  * Candidate pairs are generated strictly within buckets — never an n²
  * cross product — and buckets above `maxBucket` are dropped as a skew
  * guard (a degenerate key at 100 TB would otherwise quadratically blow
  * up a single task; dropping it only loses near-dup recall among texts
  * that are all near-identical to each other anyway).
  */
object Dedup {

  /** Distinct 2-word shingle set per document (falls back to the whole
    * text when shorter than the shingle width), from the native
    * [[graft.functions.Shingles]] loop; `toks` stays for d14's token
    * counts and is pruned wherever nothing reads it.
    */
  private def withShingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr(TextOps.TOKENS))
      .withColumn("shingles", graft.functions.HashExpressions.shingles(col("text")))

  /** Posting-list df cap, scaled to corpus size: fixed 20 up to 5 000
    * docs (the original driver-SF contract, byte-identical there), then
    * n/250 — a corpus replicated R× keeps admitting the same shingles
    * (their df grows R× with the corpus) instead of silently pruning
    * every candidate. A LITERAL cap is a recall cliff at scale: at sf1
    * (10 rotated copies) every cross-copy shingle exceeded df 20 and
    * d4/d7/d9 found zero pairs — consistent with their oracles (which
    * mirror the cap) but vacuous. The oracles mirror this formula as
    * GREATEST(20, COUNT(*) // 250).
    */
  private def dfCap(nDocs: Long): Long = math.max(20L, nDocs / 250L)

  /** d1_dedup_exact — exact duplicate grouping. Grouping key is the text
    * itself for oracle parity; at 100 TB you'd group by xxhash64(text)
    * first and confirm within hash groups so the shuffle carries 8-byte
    * keys — semantics identical, both shapes are one shuffle. [oracle]
    */
  def d1_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count", "text")
      .orderBy("keep_id")

  val d1_oracle: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_count, text
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** MinHash affine constants for slot k (shared with the Spark-side
    * native expression — single source of truth, two engines).
    */
  private def minhashA(k: Int): Long = graft.functions.OracleHashConstants.minhashA(k)
  private def minhashB(k: Int): Long = graft.functions.OracleHashConstants.minhashB(k)
  private val MINHASH_P = graft.functions.OracleHashConstants.Prime
  private val K = 64
  private val BANDS = 16
  private val ROWS_PER_BAND = 4

  /** d13's per-bucket pair window: each bucket member pairs with at most
    * this many doc_id-ordered successors, bounding a size-s bucket at
    * s·W pairs instead of C(s,2) — the difference between a calibration
    * report that stays linear in the corpus and one that goes quadratic
    * when dup-family size grows with the corpus (measured r13: 76× pairs
    * for 10× data on the rotated sf10 corpus without the window).
    */
  private val CALIB_NEIGHBORS = 8

  /** The dedup family's one candidate-pair kernel: a bucket self-join over
    * `keyed` = (doc_id, key columns…), every distinct `keys` value one
    * bucket. Buckets outside [2, maxBucket] members are dropped first by
    * a key-only count + left-semi join (the skew guard). Within a
    * surviving bucket, `successors = 0` pairs every member with every
    * later one (C(s,2) pairs for s members); `successors = W` ranks
    * members by doc_id and pairs each with its next W only (≤ s·W pairs,
    * [[CALIB_NEIGHBORS]]). Output is distinct (id_a, id_b) with
    * id_a < id_b: a pair sharing several buckets comes out once.
    * Outside it on purpose: d3 (scores hamming inside the join, so it
    * carries a payload column), d5/d10/s15 (window-count or left-join
    * guards, measured at their sites) and t27 (train×eval broadcast
    * join, not a self-join).
    *
    * Persists nothing. `keyed` feeds four plan branches (bucket counts,
    * the semi join, and both self-join sides), so a caller whose keyed
    * frame is expensive persists it rather than recomputing
    * scan→shingles→signature per branch. A band table is 3 small columns
    * per row — linear, spill-safe (MEMORY_AND_DISK) — the same
    * materialize-the-signatures step a 100 TB dedup run would checkpoint
    * before the bucket join.
    */
  private[ops] def bucketPairs(
      keyed: DataFrame, keys: Seq[String], maxBucket: Long, successors: Int): DataFrame = {
    val buckets = keyed.groupBy(keys.head, keys.tail: _*).count()
      .filter(col("count").between(2, maxBucket)).select(keys.head, keys.tail: _*)
    val members = keyed.join(buckets, keys, "left_semi")
    val sameBucket = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val pairs =
      if (successors == 0) {
        members.as("l").join(members.as("r"), sameBucket && col("l.doc_id") < col("r.doc_id"))
      } else {
        // deterministic (doc_id order), so the DuckDB oracles mirror the
        // window row-for-row with the same row_number
        val rk = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.head, keys.tail: _*).orderBy("doc_id")
        val ranked = members.withColumn("rk", row_number().over(rk))
        ranked.as("l").join(ranked.as("r"), sameBucket &&
          col("r.rk") > col("l.rk") && col("r.rk") <= col("l.rk") + successors)
      }
    pairs.select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b")).distinct()
  }

  /** d2's oracle-exact band keys: 16 bands × 4 components of a sha
    * MinHash signature `sig`, each band's components joined into one
    * string (the oracles' concat_ws key), exploded to (doc_id, band,
    * bkey) rows.
    */
  private def shaBands(sig: DataFrame): DataFrame = {
    val bandStructs = array((0 until BANDS).map { b =>
      val key = concat_ws(",",
        (0 until ROWS_PER_BAND).map(r => element_at(col("sig"), b * ROWS_PER_BAND + r + 1)): _*)
      struct(lit(b).as("band"), key.as("bkey"))
    }: _*)
    sig.select(col("doc_id"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Candidate pairs from the df-capped inverted shingle index over `sh`
    * = (doc_id, shingles): documents sharing at least one shingle whose
    * document frequency is in [2, cap] (see [[dfCap]]).
    */
  private def shinglePairs(sh: DataFrame, cap: Long): DataFrame =
    bucketPairs(sh.select(col("doc_id"), explode(col("shingles")).as("shingle")),
      Seq("shingle"), cap, 0)

  /** Attach both sides' shingle sets (`sh` = doc_id, shingles, n) to the
    * candidate pairs and count the shared shingles as `inter`.
    */
  private def withInter(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))

  /** Exact shingle-Jaccard verify (integer intersection / (|A|+|B|-inter),
    * rounded once — the oracles' arithmetic): the candidate pairs scoring
    * ≥ `minJaccard`, unordered ([[bestFirst]] is the entries' order).
    */
  private def jaccardPairs(cands: DataFrame, sh: DataFrame, minJaccard: Double): DataFrame =
    withInter(cands, sh)
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** d2/d4's output order: highest Jaccard first, then the pair ids. */
  private def bestFirst(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)

  /** d2_dedup_minhash — MinHash(64) + LSH(16 bands × 4 rows) near-dup
    * pairs, verified with exact shingle Jaccard ≥ 0.7.
    *
    * The base hash is the first 32 bits of sha256 (identical in every
    * engine) and the 64 affine slot-hashes are exact integer arithmetic,
    * so signatures — and therefore band buckets, candidates, and the
    * final pair set — are reproduced bit-for-bit by the DuckDB oracle.
    * Shape: explode shingles (narrow) → 64 codegen'd min-aggregates per
    * doc (one shuffle, partial map-side) → band keys → bucket join with
    * the df guard → exact-Jaccard verify.
    *
    * No entry uses the native xxhash64-based MinHashSignature expression
    * (SQL `minhash_sig`; one generated-Java pass, 8-byte hashes, no sha
    * cost, measured ~10× over the interpreted higher-order-function
    * formulation): its hashes have no DuckDB twin, so it is checked on its
    * own by HashExpressionsSpec/GraftFunctionsSpec. [oracle]
    */
  def d2_dedup_minhash(spark: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(Tables(spark, dir).documents)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
      .persistTracked
    // one narrow codegen pass per doc: sha prefix + 64 slot minima
    // (graft.functions.ShaMinHash) — no explode, no signature shuffle
    val sig = sh.withColumn("sig",
      graft.functions.HashExpressions.shaMinHash(col("shingles"), K))
      .select("doc_id", "sig")
    bestFirst(jaccardPairs(
      bucketPairs(shaBands(sig).persistTracked, Seq("band", "bkey"), 100, 0), sh, 0.7))
  }

  /** DuckDB mirror of d2 — same sha-based signatures, bands, df guard,
    * and Jaccard arithmetic (SQL generated from the same constants).
    */
  lazy val d2_oracle: String = {
    val minExprs = (0 until K)
      .map(k => s"MIN((${minhashA(k)} * h + ${minhashB(k)}) % $MINHASH_P) AS m$k")
      .mkString(",\n      ")
    val bandRows = (0 until BANDS).map { b =>
      val key = (0 until ROWS_PER_BAND).map(r => s"m${b * ROWS_PER_BAND + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $key) AS bkey FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""WITH sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
       |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    ELSE [array_to_string(toks, ' ')] END) AS shingles
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM documents)),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(sha256(s), 1, 8))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |      $minExprs
       |  FROM hashed GROUP BY doc_id),
       |exploded AS MATERIALIZED (
       |      $bandRows),
       |buckets AS (
       |  SELECT band, bkey FROM exploded GROUP BY band, bkey
       |  HAVING COUNT(*) BETWEEN 2 AND 100),
       |members AS MATERIALIZED (SELECT e.doc_id, e.band, e.bkey FROM exploded e JOIN buckets USING (band, bkey)),
       |cand AS (
       |  SELECT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM members l JOIN members r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT id_a, id_b,
       |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.7
       |ORDER BY jaccard DESC, id_a ASC, id_b ASC""".stripMargin
  }

  private val SIM_BITS = 60 // 15 sha256 hex chars → fits BIGINT in any engine
  private val SIM_BANDS = 4
  private val SIM_BAND_BITS = 15

  /** d3_dedup_simhash — SimHash over 2-word shingles: per-bit majority
    * vote across shingle hashes, candidates bucketed by 4 × 15-bit bands,
    * confirmed with bit_count(xor) ≤ 12.
    *
    * Like d2, the base hash is sha256-derived (60 bits so the value fits
    * a signed 64-bit integer in every engine) and the votes are integer
    * sums, so the fingerprints — and the whole band/candidate/hamming
    * pipeline — are engine-independent and oracle-checked. Shape:
    * explode (narrow) → 60 codegen'd conditional sums per doc (one
    * shuffle) → band bucketing with the size guard → hamming verify.
    * The production variant is the native xxhash64 SimHash64 expression
    * (graft.functions.HashExpressions.simhash64), spec-checked. [oracle]
    */
  def d3_dedup_simhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = withShingles(Tables(spark, dir).documents)
    // one narrow codegen pass per doc: sha prefix + 60 bit votes
    // (graft.functions.ShaSimHash) — no explode, no vote shuffle
    val sim = docs.withColumn("simhash",
      graft.functions.HashExpressions.shaSimHash(col("shingles"), SIM_BITS))
      .select("doc_id", "simhash")
    val bandStructs = array((0 until SIM_BANDS).map { b =>
      struct(lit(b).as("band"),
        expr(s"(shiftright(simhash, ${SIM_BAND_BITS * b}) & ${(1 << SIM_BAND_BITS) - 1})").as("bkey"))
    }: _*)
    val exploded = sim.select(col("doc_id"), col("simhash"), explode(bandStructs).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .persistTracked // reused by 4 branches
    val buckets = exploded.groupBy("band", "bkey").count()
      .filter(col("count").between(2, 200)).select("band", "bkey")
    val members = exploded.join(buckets, Seq("band", "bkey"), "left_semi")
    members.as("l")
      .join(members.as("r"),
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(
        col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
        expr("bit_count(l.simhash ^ r.simhash)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 12)
      .orderBy(col("hamming").asc, col("id_a").asc, col("id_b").asc)
  }

  /** DuckDB mirror of d3 — same sha-60-bit hashes, votes, bands, guard,
    * hamming threshold (SQL generated from the same constants).
    */
  lazy val d3_oracle: String = {
    val voteExprs = (0 until SIM_BITS)
      .map(b => s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n      ")
    val simExpr = (0 until SIM_BITS)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    val bandRows = (0 until SIM_BANDS).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${SIM_BAND_BITS * b}) & ${(1 << SIM_BAND_BITS) - 1} AS bkey FROM sim"
    }.mkString("\n      UNION ALL ")
    s"""WITH sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
       |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    ELSE [array_to_string(toks, ' ')] END) AS shingles
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM documents)),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(sha256(s), 1, 15))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |votes AS (
       |  SELECT doc_id,
       |      $voteExprs
       |  FROM hashed GROUP BY doc_id),
       |sim AS MATERIALIZED (SELECT doc_id, $simExpr AS simhash FROM votes),
       |exploded AS MATERIALIZED (
       |      $bandRows),
       |buckets AS (
       |  SELECT band, bkey FROM exploded GROUP BY band, bkey
       |  HAVING COUNT(*) BETWEEN 2 AND 200),
       |members AS MATERIALIZED (SELECT e.doc_id, e.simhash, e.band, e.bkey
       |            FROM exploded e JOIN buckets USING (band, bkey)),
       |pairs AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |    CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
       |  FROM members l JOIN members r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id)
       |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 12
       |ORDER BY hamming ASC, id_a ASC, id_b ASC""".stripMargin
  }

  /** d4_ngram_jaccard — EXACT n-gram Jaccard dedup via an inverted
    * shingle index: candidate pairs are documents sharing at least one
    * discriminative shingle (document frequency in [2, 20] — the df cap
    * is the classic prefix-filter/stopword guard: a shingle occurring in
    * thousands of documents generates quadratic candidates while carrying
    * no signal), then every candidate is verified with the full exact
    * Jaccard and kept at >= 0.5.
    *
    * Unlike d2/d3 (probabilistic LSH — the cheap 100 TB path), this is
    * fully deterministic and engine-independent, so it is the
    * hash-checked ground truth the LSH paths are measured against.
    * Scale shape: one explode (narrow), one df groupBy, one self-join on
    * shingle keys whose fan-out the df cap bounds, one verify join.
    * [oracle]
    */
  def d4_ngram_jaccard(spark: SparkSession, dir: String): DataFrame =
    bestFirst(d4Pairs(spark, dir))

  /** d4's verified pairs (id_a, id_b, jaccard) in no particular order:
    * what d6 labels, without the range-partitioned sort only d4's output
    * contract reads.
    */
  private def d4Pairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val cap = dfCap(docs.count())
    val sh = withShingles(docs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
      .persistTracked
    jaccardPairs(shinglePairs(sh, cap), sh, 0.5)
  }

  /** DuckDB mirror of d4: same shingling, df window, and Jaccard
    * arithmetic (integer intersection / (|A|+|B|-inter), rounded once).
    */
  val d4_oracle: String =
    """WITH sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [array_to_string(toks, ' ')] END) AS shingles
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |        FROM documents)),
      |inv AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |rare AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND GREATEST(20, (SELECT COUNT(*) // 250 FROM documents))),
      |cand AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b
      |         FROM (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) l
      |         JOIN (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) r
      |           ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      |         GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b,
      |        round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      |              / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
      |      FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
      |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
      |ORDER BY jaccard DESC, id_a ASC, id_b ASC""".stripMargin

  /** d9_containment — DIRECTIONAL near-dup detection by shingle
    * CONTAINMENT (Broder's containment coefficient):
    * C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|. The measure for the asymmetric
    * crawl cases Jaccard under-reads — a short doc quoted whole inside a
    * long one scores C(short→long) ≈ 1 while Jaccard ≈ |short|/|long|
    * stays far below any dedup threshold. Candidates come from the same
    * df-capped inverted shingle index as d4 (bounded fan-out, never
    * all-pairs); each surviving unordered pair emits up to two directed
    * rows (src contained in dst at ≥ 0.8). Fully deterministic integer
    * arithmetic — hash-checked against the DuckDB mirror. [oracle]
    */
  def d9_containment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val cap = dfCap(docs.count())
    val sh = withShingles(docs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
      .persistTracked
    withInter(shinglePairs(sh, cap), sh).select(explode(array(
        struct(col("id_a").as("src_id"), col("id_b").as("dst_id"),
          round(col("inter").cast("double") / col("n_a"), 4).as("containment")),
        struct(col("id_b").as("src_id"), col("id_a").as("dst_id"),
          round(col("inter").cast("double") / col("n_b"), 4).as("containment")))).as("e"))
      .select("e.*")
      .filter(col("containment") >= 0.8)
      .orderBy(col("containment").desc, col("src_id").asc, col("dst_id").asc)
  }

  /** DuckDB mirror of d9: d4's index, directional containment emit. */
  val d9_oracle: String =
    """WITH sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [array_to_string(toks, ' ')] END) AS shingles
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |        FROM documents)),
      |inv AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |rare AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND GREATEST(20, (SELECT COUNT(*) // 250 FROM documents))),
      |cand AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b
      |         FROM (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) l
      |         JOIN (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) r
      |           ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      |         GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b,
      |        len(list_intersect(a.shingles, b.shingles)) AS inter,
      |        len(a.shingles) AS n_a, len(b.shingles) AS n_b
      |      FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b),
      |d AS (
      |  SELECT id_a AS src_id, id_b AS dst_id,
      |         round(CAST(inter AS DOUBLE) / n_a, 4) AS containment FROM j
      |  UNION ALL
      |  SELECT id_b, id_a, round(CAST(inter AS DOUBLE) / n_b, 4) FROM j)
      |SELECT src_id, dst_id, containment FROM d WHERE containment >= 0.8
      |ORDER BY containment DESC, src_id ASC, dst_id ASC""".stripMargin

  /** d7_dedup_editdist — EDIT-DISTANCE near-dup detection: the dedup
    * family for OCR noise / small in-place corruptions, where token-set
    * measures (Jaccard, MinHash) under-read similarity because every
    * corrupted token looks brand new. Candidates come from the same
    * df-capped inverted shingle index as d4 (bounded fan-out — never
    * all-pairs), then each pair is verified by full Levenshtein distance
    * ≤ 40 on the raw text. Levenshtein is classic unit-cost edit
    * distance in both engines, so the operator is hash-checked
    * end-to-end. The O(len²) verify runs only on the candidate set the
    * index admits — the scale contract is the df cap, not the verify.
    * [oracle]
    */
  def d7_dedup_editdist(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val cap = dfCap(docs.count())
    // persist the COMPACT per-doc shingle arrays (d4's shape) and derive
    // the exploded posting list per branch — without this the
    // scan→shingle pipeline recomputes for every plan branch (13 s at
    // sf0.1); persisting pre-explode keeps the cached footprint per-doc
    val sh = withShingles(docs).select(col("doc_id"), col("shingles"))
      .persistTracked
    shinglePairs(sh, cap)
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      // |len(a) − len(b)| ≤ distance, so a length gap > 40 can never
      // verify — a free narrow prune before any DP cell is computed
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= 40)
      // thresholded levenshtein runs the BANDED O(k·n) algorithm and
      // returns −1 past the bound — ~50× cheaper than the full O(n·m)
      // table on multi-KB texts (29.9 s → ~1 s at sf0.1)
      .withColumn("edit_dist", levenshtein(col("text_a"), col("text_b"), 40).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select("id_a", "id_b", "edit_dist")
      .orderBy(col("edit_dist").asc, col("id_a").asc, col("id_b").asc)
  }

  /** DuckDB mirror of d7: d4's candidate CTE, then levenshtein verify. */
  val d7_oracle: String =
    """WITH sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [array_to_string(toks, ' ')] END) AS shingles
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |        FROM documents)),
      |inv AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |rare AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND GREATEST(20, (SELECT COUNT(*) // 250 FROM documents))),
      |cand AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b
      |         FROM (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) l
      |         JOIN (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) r
      |           ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      |         GROUP BY 1, 2),
      |v AS (SELECT id_a, id_b,
      |        CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
      |      FROM cand JOIN documents a ON a.doc_id = id_a
      |                JOIN documents b ON b.doc_id = id_b)
      |SELECT id_a, id_b, edit_dist FROM v WHERE edit_dist <= 40
      |ORDER BY edit_dist ASC, id_a ASC, id_b ASC""".stripMargin

  /** Result of component labeling: per-node labels plus an explicit
    * convergence signal — a caller must be able to TELL that a wide
    * component hit the round cap instead of silently keeping wrong labels.
    */
  final case class ClusterResult(labels: DataFrame, converged: Boolean, rounds: Int)

  /** Most nodes one partition's union-find seed holds before it emits its
    * forest and starts over: 2^18 ids, a few MB per task.
    */
  private val SeedNodes = 1 << 18

  /** Connected components of the undirected pair graph (`id_a`, `id_b`):
    * every node of a pair is labeled with the smallest id of its
    * component. The dedup family's one component labeler: d6 runs it on
    * text pairs, d8 on embedding pairs.
    *
    *  1. Seed. A union-find over each partition's pairs ([[seedRoots]]:
    *     narrow, no shuffle) gives every node it sees the smallest id
    *     joined to it there; a node's initial label is the minimum over
    *     the partitions it appears in (one groupBy). Each seed label is
    *     an id in the node's own component and ≤ the node, so min-label
    *     propagation still converges to the component minimum, and a
    *     component whose edges share a partition starts out labeled.
    *  2. Rounds. Min-label propagation: one join + groupBy over the edge
    *     list per round, snapshotted eagerly (`localCheckpoint`, or
    *     reliable `checkpoint` into `checkpointDir` on a cluster) to cut
    *     lineage — without that the plan tree doubles per round. The
    *     changed labels are counted by an `Observation` on that same
    *     snapshot job, and the loop stops at a round that changes none.
    *  3. Cap. After `maxRounds` rounds one probe round tells labels that
    *     settled exactly at the cap from a component wider than the cap.
    *     The latter escalates to [[starContraction]], whose round count
    *     is O(log² n) in the component size, not its diameter.
    */
  def components(
      pairs: DataFrame, maxRounds: Int = 12,
      checkpointDir: Option[String] = None): ClusterResult = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    val p = pairs.select("id_a", "id_b").persistTracked
    val lp = propagate(p, maxRounds, checkpointDir)
    if (lp.converged) lp else starContraction(p, checkpointDir)
  }

  private def snapshot(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)

  /** Steps 1–3 of [[components]] without the escalation. */
  private[graft] def propagate(
      p: DataFrame, maxRounds: Int, checkpointDir: Option[String]): ClusterResult = {
    import p.sparkSession.implicits._
    val edges = p.unionAll(p.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .persistTracked
    // (doc_id, old_label, label) after one more propagation round
    def step(labels: DataFrame): DataFrame = {
      val msgs = edges
        .join(labels, edges("id_a") === labels("doc_id"))
        .select(col("id_b").as("doc_id"), col("label"))
      labels.select(col("doc_id"), col("label").as("old_label"))
        .join(labels.unionAll(msgs).groupBy("doc_id").agg(min("label").as("label")),
          Seq("doc_id"))
    }
    var labels = snapshot(p.as[(Long, Long)].mapPartitions(seedRoots).toDF("doc_id", "root")
      .groupBy("doc_id").agg(min("root").as("label")), checkpointDir)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val changed = Observation()
      labels = snapshot(step(labels)
        .observe(changed, count(when(col("label") =!= col("old_label"), 1)).as("n"))
        .select("doc_id", "label"), checkpointDir)
      converged = changed.get("n") == 0L
      round += 1
    }
    // the cap fired mid-propagation: one more probe round decides whether
    // labels were actually stable (converged exactly at the cap) or not
    if (!converged) converged = step(labels).filter(col("label") =!= col("old_label")).isEmpty
    ClusterResult(labels, converged, round)
  }

  /** Step 1 of [[components]] over one partition's pairs: (node, root)
    * for every node seen, root the smallest id the partition's edges join
    * it to. Union always hangs the larger root under the smaller, so a
    * root is its set's minimum. A table that reaches [[SeedNodes]] nodes
    * emits its forest and starts over, so a task holds bounded state and
    * never buffers its partition.
    */
  private def seedRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    new Iterator[Iterator[(Long, Long)]] {
      def hasNext: Boolean = edges.hasNext
      def next(): Iterator[(Long, Long)] = {
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = { // path halving
          var n = x
          var up = parent.getOrElseUpdate(n, n)
          while (up != n) {
            val grand = parent(up)
            parent(n) = grand
            n = grand
            up = parent(n)
          }
          n
        }
        while (edges.hasNext && parent.size <= SeedNodes - 2) {
          val (a, b) = edges.next()
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        parent.keys.toArray.iterator.map(n => (n, find(n)))
      }
    }.flatten

  /** [[components]]' escalation: connected components by the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", ACM SoCC 2014 — public): round
    * count is O(log² n) in the component size, NOT its diameter, so a
    * 100 TB run with one pathological million-hop chain converges in ~20
    * rounds where min-label propagation would need a million. Each round
    * is two star steps; each step is one groupBy + one join on the SAME
    * key, so the join reuses the aggregation's hash partitioning (no
    * extra exchange). Same labels as [[components]]: every node gets the
    * minimum node id of its component.
    *
    *  - large-star: per node u with m = min({u} ∪ N(u)), reattach every
    *    strictly-larger neighbor v > u to m — tall trees flatten.
    *  - small-star: orient edges child > parent; per child u with
    *    m = min(parents), reattach u and its other parents to m.
    *
    * Fixpoint (a star per component) is detected as an unchanged edge
    * set; each round is snapshotted like a propagation round.
    */
  private[graft] def starContraction(
      pairs: DataFrame, checkpointDir: Option[String], maxRounds: Int = 20): ClusterResult = {
    val nodes = pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id")))
      .distinct()
      .persistTracked
    // canonical direction child > parent; self-loops dropped
    var edges = snapshot(pairs
      .select(greatest(col("id_a"), col("id_b")).as("child"),
        least(col("id_a"), col("id_b")).as("parent"))
      .filter(col("child") =!= col("parent")).distinct(), checkpointDir)
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val bi = edges.select(col("child").as("u"), col("parent").as("v"))
        .unionAll(edges.select(col("parent").as("u"), col("child").as("v")))
      val uMin = bi.groupBy("u").agg(min("v").as("mv"))
      val large = bi.join(uMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("child"), least(col("u"), col("mv")).as("parent"))
        .filter(col("child") =!= col("parent")).distinct()
      val cMin = large.groupBy("child").agg(min("parent").as("m"))
      val small = snapshot(large.join(cMin, "child")
        .select(col("parent").as("child"), col("m").as("parent"))
        .unionAll(cMin.select(col("child"), col("m").as("parent")))
        .filter(col("child") =!= col("parent")).distinct(), checkpointDir)
      converged = small.unionAll(edges)
        .groupBy("child", "parent").agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 2).isEmpty
      edges = small
      round += 1
    }
    // one row per node even if the round cap fired mid-contraction (a
    // non-star edge set can hold several parents per child; min(label)
    // keeps the frame well-formed for callers that ignore `converged`)
    val labels = nodes.join(edges.select(col("child").as("doc_id"),
        col("parent").as("label")), Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(min(coalesce(col("label"), col("doc_id"))).as("label"))
    ClusterResult(labels, converged, round)
  }

  /** d6_dedup_clusters — connected components over the verified near-dup
    * pair graph ([[components]]): every document gets a cluster_id (the
    * smallest doc_id reachable through near-dup edges) and `keep` marks
    * the cluster representative. This is the step that turns pairwise
    * similarity into an actual dedup decision.
    *
    * The edge list is d4's exact-Jaccard pairs (>= 0.5), taken before
    * d4's output sort, which nothing here reads. The pairs are
    * deterministic, so the whole operator is oracle-checked against a
    * recursive-CTE transitive closure in DuckDB. Swapping in d2's LSH
    * pairs gives the identical labeling at 100 TB scale.
    *
    * Scale: near-dup components are overwhelmingly small cliques, which
    * the per-partition union-find seed mostly labels before the first
    * round. Each min-label round is one checkpointed join + groupBy over
    * the edge list whose job also counts the changed labels, so a pair
    * graph already labeled by the seed costs one round. A component wider
    * than 12 hops escalates to large-star / small-star contraction.
    * [oracle]
    */
  def d6_dedup_clusters(spark: SparkSession, dir: String): DataFrame = {
    val result = components(d4Pairs(spark, dir).select("id_a", "id_b"))
    require(result.converged,
      s"component labeling did not converge in ${result.rounds} rounds " +
        "even after star-contraction escalation — raise maxRounds")
    result.labels
      .select(col("doc_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("keep"))
      .orderBy("cluster_id", "doc_id")
  }

  /** DuckDB mirror of d6: d4's pair contract, then reachability by
    * recursive CTE and min-reachable-id per node.
    */
  val d6_oracle: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [array_to_string(toks, ' ')] END) AS shingles
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      |        FROM documents)),
      |inv AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |rare AS (SELECT shingle FROM inv GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND GREATEST(20, (SELECT COUNT(*) // 250 FROM documents))),
      |cand AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b
      |         FROM (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) l
      |         JOIN (SELECT i.doc_id, i.shingle FROM inv i JOIN rare USING (shingle)) r
      |           ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      |         GROUP BY 1, 2),
      |pairs AS (SELECT id_a, id_b FROM (
      |  SELECT id_a, id_b,
      |    round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
      |          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
      |  FROM cand JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b)
      |  WHERE jaccard >= 0.5),
      |edges AS (SELECT id_a AS s, id_b AS t FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach(s, t) AS (SELECT s, s FROM edges
      |                UNION SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
      |SELECT s AS doc_id, MIN(t) AS cluster_id, (MIN(t) = s) AS keep
      |FROM reach GROUP BY s ORDER BY cluster_id, doc_id""".stripMargin

  /** Bucket-size cap for the embedding-LSH self-join (same skew guard as
    * d2's 100 / d3's 200): a degenerate bucket — and near-identical
    * embedding clusters are exactly what this operator hunts — would
    * otherwise put O(n) rows in one key and make a single task quadratic.
    */
  val EmbedMaxBucket = 500

  /** Core of d5, parameterized so specs can drive it with synthetic
    * vectors: hyperplane-bucket the corpus, drop buckets outside
    * [2, maxBucket] (skew guard), score only bucket-local pairs, keep the
    * global top-`topN` by exact cosine.
    */
  def embedNearDupPairs(
      embeddings: DataFrame, planes: Int, seed: Long,
      maxBucket: Int, topN: Int): DataFrame = {
    val unit = Similarity.withUnit(embeddings)
    // both self-join branches read the bucketed frame: persist the one
    // normalize+hyperplane pass instead of running it twice
    val bucketed = Similarity.withHyperplaneBucket(unit, planes, seed)
      .persistTracked
    // skew guard as a count-over-bucket window: rides the same
    // hash-partitioning the self-join shuffles to anyway, instead of a
    // separate aggregate + semi-join round trip
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val members = bucketed
      .withColumn("_bcnt", count(lit(1)).over(wB))
      .filter(col("_bcnt").between(2, maxBucket))
      .drop("_bcnt")
    members.as("l")
      .join(members.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
      .select(
        col("l.vec_id").as("id_a"), col("r.vec_id").as("id_b"),
        round(Similarity.dot(col("l.unit"), col("r.unit")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a").asc, col("id_b").asc).limit(topN)
  }

  /** d5_embed_dup — embedding-cosine near-dup: random-hyperplane LSH
    * buckets (8 planes → 256 buckets) generate candidates, exact cosine
    * ranks them; top-100 closest pairs. Only bucket-local pairs inside the
    * [2, EmbedMaxBucket] size window are ever scored — corpus² never
    * materializes and no single bucket can go quadratic. [oracle]
    */
  def d5_embed_dup(spark: SparkSession, dir: String): DataFrame =
    embedNearDupPairs(Tables(spark, dir).embeddings,
      planes = 8, seed = 7L, maxBucket = EmbedMaxBucket, topN = 100)

  /** d8_embed_clusters — SEMANTIC dedup clusters: connected components
    * over d5's embedding near-dup pair graph, exactly as d6 clusters
    * d4's text pairs. The same [[components]] kernel serves both
    * modalities — one component labeler, two candidate generators —
    * which is the architectural point: near-dup semantics live in the
    * pair generators, transitive-closure mechanics are shared. Oracle =
    * recursive-CTE closure over d5's own oracle pairs (composition
    * proof, like p1/t13). [oracle]
    */
  def d8_embed_clusters(spark: SparkSession, dir: String): DataFrame = {
    val result = components(d5_embed_dup(spark, dir).select("id_a", "id_b"))
    require(result.converged,
      s"embedding component labeling did not converge in ${result.rounds} rounds")
    result.labels
      .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"),
        (col("doc_id") === col("label")).as("keep"))
      .orderBy("cluster_id", "vec_id")
  }

  lazy val d8_oracle: String =
    s"""WITH RECURSIVE pairs AS ($d5_oracle),
       |edges AS (SELECT id_a AS s, id_b AS t FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |reach(s, t) AS (SELECT s, s FROM edges
       |                UNION SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
       |SELECT s AS vec_id, MIN(t) AS cluster_id, (MIN(t) = s) AS keep
       |FROM reach GROUP BY s ORDER BY cluster_id, vec_id""".stripMargin

  /** DuckDB mirror of d5: identical integer hyperplanes → identical
    * buckets, identical [2, EmbedMaxBucket] size guard → identical
    * bucket-local pair set and exact cosines.
    */
  lazy val d5_oracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
       |  FROM v),
       |b AS (
       |  SELECT vec_id, unit, ${Similarity.bucketSql(8, 7L, "unit")} AS bucket FROM u),
       |ok AS (
       |  SELECT bucket FROM b GROUP BY bucket
       |  HAVING COUNT(*) BETWEEN 2 AND $EmbedMaxBucket),
       |m AS (SELECT b.* FROM b JOIN ok USING (bucket))
       |SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       |  round(list_dot_product(l.unit, r.unit), 6) AS cosine
       |FROM m l JOIN m r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
       |ORDER BY cosine DESC, id_a ASC, id_b ASC
       |LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- d10

  /** SemDeDup retention threshold: a vector whose max cosine to an
    * EARLIER same-cell vector reaches τ is dropped (scan-order keep-first,
    * the deterministic variant of the paper's keep-one-per-ε-cluster).
    */
  private val SemDedupTau = 0.35
  /** Cell count scales with the corpus (~32 vectors per cell on average):
    * planes p is the smallest in [4, 16] with n ≤ 32·2^p. Integer ladder,
    * not ceil(log2(·)) — Java's log(n)/log(2) and libm's log2 disagree by
    * an ulp exactly at the power-of-two boundaries where ceil flips.
    */
  private val SemDedupPlaneLadder: Seq[(Long, Int)] =
    (4 to 16).map(p => (32L << p, p))
  private def semDedupPlanes(n: Long): Int =
    SemDedupPlaneLadder.collectFirst { case (cap, p) if n <= cap => p }.getOrElse(16)

  /** d10_semdedup — SemDeDup-style semantic dedup as a RETENTION POLICY
    * (d5/d8 report near-dup pairs/clusters; this operator decides, per
    * vector, keep or drop — the pass a curation pipeline actually
    * executes before training). Cells are deterministic hyperplane
    * buckets whose count scales with the corpus (the k-means cells of
    * the SemDeDup paper swapped for an engine-reproducible partitioner);
    * within a cell each vector is scored against its EARLIER cellmates
    * only, and dropped when the max cosine reaches τ = 0.35 — keep-first
    * scan order, so the decision is a pure function of the corpus and
    * identical across engines, runs, and cluster sizes.
    *
    * Scale shape: one narrow pass buckets the corpus; pairwise scoring
    * happens strictly within cells, whose expected size stays ~32 at any
    * corpus (planes grow with log n), with the [2, EmbedMaxBucket] guard
    * capping degenerate cells; output is one row per vector. A 13-branch
    * integer CASE ladder picks the plane count in both engines — the one
    * extra job is a count(). [oracle]
    */
  def d10_semdedup(spark: SparkSession, dir: String): DataFrame = {
    // The plane ladder needs the corpus count before the plan exists —
    // counting the RAW parquet is footer-metadata-only (no normalization
    // pass materializes), and withUnit preserves row count, so the
    // ladder input is identical. Normalization + bucketing fuse into a
    // single persisted frame (the old separate `unit` persist cost a
    // full extra materialization of the corpus just to be counted). The
    // size guard stays an aggregate + semi-join: it moves only (cell)
    // keys. Two measured dead ends at sf1, kept out on purpose: a
    // cell-partitioned window for the guard sorts the WIDE unit arrays
    // (3.5s vs 2.8s), and fusing the whole within-cell scan into a
    // collect_list + generated per-cell loop pays object-aggregation
    // buffer churn on the unit arrays (3.5-6s) — the codegen'd
    // self-join below beats both.
    val emb = Tables(spark, dir).embeddings
    val nPlanes = semDedupPlanes(emb.count())
    val cells = Similarity.withHyperplaneBucket(
        Similarity.withUnit(emb), nPlanes, seed = 11L)
      .select(col("vec_id"), col("unit"), col("bucket").as("cell"))
      .persistTracked
    val ok = cells.groupBy("cell").count()
      .filter(col("count").between(2, EmbedMaxBucket)).select("cell")
    val m = cells.join(ok, Seq("cell"), "left_semi")
    // LEFT self-join from ALL cells against the guarded side: a vector in
    // a size-1 or oversized cell matches nothing → null → sentinel → keep,
    // exactly the old anti-join-free semantics, but without a second
    // corpus-wide join to re-attach unscored vectors. Grouping on
    // (vec_id, cell) instead of vec_id alone lets the aggregate reuse the
    // join's hash(cell) partitioning when the join shuffles (every pair
    // of a given vec_id shares its a.cell); when the guarded side is
    // small enough to broadcast the aggregate pays one (vec_id, cell)
    // exchange — still one join and one exchange fewer than the old
    // re-attach plan at either scale. PlanSpec locks the invariant that
    // vec_id never reappears as a join key.
    val prior = cells.as("a").join(m.as("b"),
        col("a.cell") === col("b.cell") && col("b.vec_id") < col("a.vec_id"),
        "left")
      .select(col("a.vec_id").as("vec_id"), col("a.cell").as("cell"),
        round(Similarity.dot(col("a.unit"), col("b.unit")), 6).as("cos"))
      .groupBy("vec_id", "cell").agg(max("cos").as("mp"))
    // sentinel -2.0 = "no earlier cellmate" (cosine is bounded below by -1)
    prior.select(col("vec_id"), col("cell"),
        coalesce(col("mp"), lit(-2.0)).as("max_prior_cosine"),
        (coalesce(col("mp"), lit(-2.0)) < SemDedupTau).as("keep"))
      .orderBy("vec_id")
  }

  /** DuckDB mirror of d10: the plane count comes from the same integer
    * CASE ladder over COUNT(*), and the cell code masks the 16 embedded
    * plane terms down to the first `np` — identical cells, identical
    * earlier-cellmate max cosines, identical keep bits.
    */
  lazy val d10_oracle: String = {
    val ladder = SemDedupPlaneLadder.init
      .map { case (cap, p) => s"WHEN cnt <= $cap THEN $p" }
      .mkString(" ")
    val maskedCell = Similarity.integerPlanes(16, 64, 11L).zipWithIndex.map {
      case (w, p) =>
        val lits = w.map(v => s"${v.toDouble}").mkString("[", ", ", "]")
        s"(CASE WHEN $p < np AND list_dot_product(unit, $lits) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH np_t AS (
       |  SELECT (CASE $ladder ELSE 16 END) AS np
       |  FROM (SELECT COUNT(*) AS cnt FROM embeddings)),
       |v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
       |  FROM v),
       |b AS (SELECT vec_id, unit, $maskedCell AS cell FROM u, np_t),
       |ok AS (
       |  SELECT cell FROM b GROUP BY cell
       |  HAVING COUNT(*) BETWEEN 2 AND $EmbedMaxBucket),
       |m AS (SELECT b.* FROM b JOIN ok USING (cell)),
       |prior AS (
       |  SELECT a.vec_id, MAX(round(list_dot_product(a.unit, b.unit), 6)) AS mp
       |  FROM m a JOIN m b ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  GROUP BY a.vec_id)
       |SELECT b.vec_id, b.cell,
       |  COALESCE(p.mp, -2.0) AS max_prior_cosine,
       |  COALESCE(p.mp, -2.0) < $SemDedupTau AS keep
       |FROM b LEFT JOIN prior p ON b.vec_id = p.vec_id
       |ORDER BY b.vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- t27

  /** t27_fuzzy_decontam — MinHash/LSH decontamination of the train split
    * against the eval split: t9 flags any shared 5-gram (exact overlap),
    * t23 measures shared-span length; this operator catches the fuzzy
    * leak both miss — an eval document that was lightly edited before it
    * entered the training corpus. d2's signature machinery (sha-based
    * MinHash(64), 16 bands × 4 rows) generates train×eval candidates,
    * exact shingle Jaccard ≥ 0.5 confirms (decontam trades precision for
    * recall, hence a lower bar than dedup's 0.7).
    *
    * Scale shape: at 100 TB the eval side is benchmark-sized — its
    * banded signatures BROADCAST, so the corpus is never shuffled: one
    * narrow signature pass, a broadcast-hash candidate join, and a
    * verify join on the (sparse) candidates. The df guard drops band
    * keys shared by >100 eval docs (degenerate boilerplate bands).
    * [oracle]
    */
  def t27_fuzzy_decontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val sh = withShingles(
        docs.filter(col("doc_id") % 100 < 80 || col("doc_id") % 100 >= 90))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
      .persistTracked
    val sig = sh.withColumn("sig",
      graft.functions.HashExpressions.shaMinHash(col("shingles"), K))
      .select("doc_id", "sig")
    val banded = shaBands(sig)
    val trainB = banded.filter(col("doc_id") % 100 < 80)
    val evalB = banded.filter(col("doc_id") % 100 >= 90)
      .withColumnRenamed("doc_id", "eval_id")
    val evalOk = evalB.groupBy("band", "bkey").count()
      .filter(col("count") <= 100).select("band", "bkey")
    val evalG = evalB.join(evalOk, Seq("band", "bkey"), "left_semi")
    val cands = trainB.join(broadcast(evalG), Seq("band", "bkey"))
      .select(col("doc_id"), col("eval_id")).distinct()
    val confirmed = cands
      .join(sh.select(col("doc_id"), col("shingles").as("sh_t"), col("n").as("n_t")),
        Seq("doc_id"))
      .join(sh.select(col("doc_id").as("eval_id"), col("shingles").as("sh_e"),
        col("n").as("n_e")), Seq("eval_id"))
      .withColumn("inter", size(array_intersect(col("sh_t"), col("sh_e"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_t") + col("n_e") - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_eval_matches"), max("jaccard").as("best_jaccard"))
    docs.filter(col("doc_id") % 100 < 80).select("doc_id")
      .join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_eval_matches"), lit(0L)).as("n_eval_matches"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"),
        coalesce(col("n_eval_matches") > 0, lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of t27 — d2's signature SQL with the train/eval split,
    * the eval-side df guard, and the per-train-doc rollup.
    */
  lazy val t27_oracle: String = {
    val minExprs = (0 until K)
      .map(k => s"MIN((${minhashA(k)} * h + ${minhashB(k)}) % $MINHASH_P) AS m$k")
      .mkString(",\n      ")
    val bandRows = (0 until BANDS).map { b =>
      val key = (0 until ROWS_PER_BAND).map(r => s"m${b * ROWS_PER_BAND + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $key) AS bkey FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""WITH sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
       |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    ELSE [array_to_string(toks, ' ')] END) AS shingles
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM documents WHERE doc_id % 100 < 80 OR doc_id % 100 >= 90)),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(sha256(s), 1, 8))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |      $minExprs
       |  FROM hashed GROUP BY doc_id),
       |exploded AS MATERIALIZED (
       |      $bandRows),
       |trainb AS (SELECT * FROM exploded WHERE doc_id % 100 < 80),
       |evalb AS (SELECT doc_id AS eval_id, band, bkey FROM exploded
       |          WHERE doc_id % 100 >= 90),
       |evalok AS (
       |  SELECT band, bkey FROM evalb GROUP BY band, bkey
       |  HAVING COUNT(*) <= 100),
       |evalg AS (SELECT e.* FROM evalb e JOIN evalok USING (band, bkey)),
       |cand AS (
       |  SELECT t.doc_id, e.eval_id
       |  FROM trainb t JOIN evalg e USING (band, bkey)
       |  GROUP BY 1, 2),
       |confirmed AS (
       |  SELECT doc_id, COUNT(*) AS n_eval_matches, MAX(jaccard) AS best_jaccard
       |  FROM (
       |    SELECT c.doc_id, c.eval_id,
       |      round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |        / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4) AS jaccard
       |    FROM cand c JOIN sh a ON a.doc_id = c.doc_id JOIN sh b ON b.doc_id = c.eval_id)
       |  WHERE jaccard >= 0.5 GROUP BY doc_id),
       |train AS (SELECT doc_id FROM documents WHERE doc_id % 100 < 80)
       |SELECT t.doc_id,
       |  COALESCE(c.n_eval_matches, 0) AS n_eval_matches,
       |  COALESCE(c.best_jaccard, 0.0) AS best_jaccard,
       |  COALESCE(c.n_eval_matches > 0, false) AS contaminated
       |FROM train t LEFT JOIN confirmed c ON t.doc_id = c.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- d11

  private val SpanGram = 5  // positional gram width (tokens)
  /** Grams shared by more docs than this are boilerplate: dropping them
    * bounds candidate pairs per gram at df² and loses only spans whose
    * every gram is corpus-common (the same precision/recall trade
    * exact-substring dedup systems make for their suffix-array freq cap).
    */
  private val SpanDfCap = 20
  private val SpanMin = 12  // report pairs sharing a span of ≥ this many tokens

  /** d11_span_dedup — corpus-INTERNAL exact-substring duplication
    * (the train/train counterpart of t23's train/eval decontam; the
    * "dedup repeated substrings between documents" pass of
    * suffix-array-based training-data dedup): for every document pair
    * sharing a verbatim token span of ≥ 12 tokens, report the longest
    * shared span and the total shared-gram mass. Positional 5-grams form
    * an inverted index; a pair match on the same DIAGONAL (pos_a − pos_b
    * constant) with consecutive positions is exactly a contiguous shared
    * span, so gaps-and-islands per (pair, diagonal) recovers span
    * lengths without ever re-reading the texts.
    *
    * Scale shape: one narrow scan explodes positional grams; the df
    * filter [2, 20] bounds the self-join at df² pairs per gram (never
    * all-pairs, boilerplate grams dropped); islands group on (pair,
    * diagonal) — sparse match rows only. Grams are REDUCED TO 60-BIT
    * sha256-PREFIX KEYS inside the scan (the d2/d3 engine-independent
    * hash — DuckDB computes the identical value, so any collision
    * merges the same grams in both engines and the output stays
    * hash-exact): every exchange — the df aggregate, the index join,
    * the pair self-join — moves 8-byte longs instead of ~30-byte gram
    * strings, which is also exactly the 100 TB shape. [oracle]
    */
  def d11_span_dedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashExpressions.sha256PrefixLong
    val docs = Tables(spark, dir).documents
      .withColumn("toks", expr(TextOps.TOKENS))
    val posGrams = docs.filter(size(col("toks")) >= SpanGram)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${SpanGram - 1}), " +
          s"i -> struct(i AS pos, concat_ws(' ', slice(toks, i, $SpanGram)) AS gram))")).as("pg"))
      .select(col("doc_id"), col("pg.pos").as("pos"),
        sha256PrefixLong(col("pg.gram"), 15).as("gram"))
      .persistTracked
    // persisted: the pair self-join references m (= posGrams ⋈ ok) on
    // BOTH sides, and without the persist each side re-ran ok's whole
    // two-exchange countDistinct over the gram table (the r15 before
    // plan shows the duplicated subtree) — the cache costs one
    // vocab-sized frame and halves that work
    val ok = posGrams.groupBy("gram")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df").between(2, SpanDfCap)).select("gram")
      .persistTracked
    val m = posGrams.join(ok, Seq("gram"))
    // no distinct: posGrams carries exactly one row per (doc, pos) and a
    // position's gram is unique, so each joined (doc_a, doc_b, pos_a,
    // diag) row is already unique by construction — a dedup here would
    // be a pure-waste full exchange of the pair stream (and the island
    // window below NEEDS exactly-once rows either way)
    val pairs = m.as("a").join(m.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), (col("a.pos") - col("b.pos")).as("diag"))
    // ONE exchange for the whole islands tail (r15, guide §2.4): hash
    // on (doc_a, doc_b) — a SUBSET of every downstream key — with the
    // window's full ordering established in the same pass. The island
    // window (clustered by pair+diag), the run aggregate, and the final
    // per-pair aggregate all satisfy their distribution on this one
    // partitioning, where the unhinted shape paid a second exchange to
    // regroup (pair, diag) runs by pair.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    pairs
      .repartition(col("doc_a"), col("doc_b"))
      .sortWithinPartitions("doc_a", "doc_b", "diag", "pos_a")
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "island").agg(count(lit(1)).as("run"))
      .groupBy("doc_a", "doc_b")
      .agg((max("run") + (SpanGram - 1)).cast("long").as("longest_span"),
        sum("run").cast("long").as("n_shared_grams"))
      .filter(col("longest_span") >= SpanMin)
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB mirror of d11: identical positional grams, df window,
    * diagonal islands, and span threshold.
    */
  val d11_oracle: String =
    s"""WITH toksd AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |pg AS (
       |  SELECT doc_id, unnest(range(1, len(toks) - ${SpanGram - 2})) AS pos, toks
       |  FROM toksd WHERE len(toks) >= $SpanGram),
       |grams AS (
       |  SELECT doc_id, pos,
       |    ('0x' || substr(sha256(
       |      ${(0 until SpanGram).map(i => s"toks[pos+$i]").mkString(" || ' ' || ")}
       |    ), 1, 15))::BIGINT AS gram
       |  FROM pg),
       |ok AS (
       |  SELECT gram FROM grams GROUP BY gram
       |  HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $SpanDfCap),
       |m AS (SELECT g.* FROM grams g JOIN ok USING (gram)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.pos AS pos_a, a.pos - b.pos AS diag
       |  FROM m a JOIN m b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT doc_a, doc_b, diag,
       |    pos_a - row_number() OVER (
       |      PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
       |  FROM pairs),
       |islands AS (
       |  SELECT doc_a, doc_b, diag, island, COUNT(*) AS run
       |  FROM runs GROUP BY 1, 2, 3, 4),
       |agged AS (
       |  SELECT doc_a, doc_b,
       |    CAST(MAX(run) + ${SpanGram - 1} AS BIGINT) AS longest_span,
       |    CAST(SUM(run) AS BIGINT) AS n_shared_grams
       |  FROM islands GROUP BY 1, 2)
       |SELECT doc_a, doc_b, longest_span, n_shared_grams
       |FROM agged WHERE longest_span >= $SpanMin
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- d12

  private val LineTokens = 10 // non-overlapping segment width ("line" proxy)

  /** d12_line_dedup — corpus-GLOBAL exact segment dedup with
    * keep-first semantics (C4's "remove any line occurring more than
    * once in the dataset" rule; the corpus has no newlines, so fixed
    * non-overlapping 10-token segments stand in for lines, the same
    * stand-in t20's chunker uses): every segment occurrence except its
    * global first (smallest (doc_id, position)) is deleted, and each
    * document is re-emitted as segment count, removed count, and the
    * surviving text reassembled in position order.
    *
    * Differs from the rest of the family on purpose: d1 keys whole
    * documents, d11 reports pair spans, t25 strips by per-doc heuristic
    * — this is the global-frequency DESTRUCTIVE pass between them.
    *
    * Scale shape: one narrow scan explodes ≈ tokens/10 segment rows;
    * the global first-owner is one hash `groupBy(segment)` min-aggregate
    * (map-side partial combine does the heavy lifting — boilerplate
    * segments collapse per partition before the exchange); the verdict
    * join is segment-keyed, never all-pairs; reassembly buffers only one
    * document's own segments (t25's array_sort discipline). At 100 TB
    * the group key would be xxhash64(segment) — 8 bytes — with the same
    * plan. Owner ordering is the lexicographic min over
    * struct(doc_id, idx) — no arithmetic encoding, so no silent
    * collision for documents past 10⁷ tokens and no Long overflow for
    * large doc_ids (both engines min-aggregate the same struct). [oracle]
    */
  def d12_line_dedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .withColumn("toks", expr(TextOps.TOKENS))
      .filter(size(col("toks")) >= 1)
    val segs = docs.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST(ceil(size(toks) / $LineTokens.0) AS INT) - 1), " +
          s"i -> struct(i AS idx, concat_ws(' ', slice(toks, i * $LineTokens + 1, $LineTokens)) AS seg))")).as("s"))
      .select(col("doc_id"), col("s.idx").as("idx"), col("s.seg").as("seg"))
      .persistTracked
    val firstOwner = segs.groupBy("seg")
      .agg(min(struct(col("doc_id"), col("idx"))).as("first_ord"))
    segs.join(firstOwner, Seq("seg"))
      .withColumn("keep", struct(col("doc_id"), col("idx")) === col("first_ord"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("long").as("n_segs"),
        sum(when(col("keep"), 0L).otherwise(1L)).cast("long").as("n_removed"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN keep THEN struct(idx, seg) END)), x -> x.seg)"))
          .as("kept_text"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of d12: identical segmentation, first-owner rule,
    * and position-ordered reassembly.
    */
  val d12_oracle: String =
    s"""WITH toksd AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
       |seg AS (
       |  SELECT doc_id,
       |    unnest(range(0, CAST(ceil(len(toks) / $LineTokens.0) AS INT))) AS idx,
       |    toks
       |  FROM toksd),
       |segs AS (
       |  SELECT doc_id, idx,
       |    array_to_string(toks[idx * $LineTokens + 1 : idx * $LineTokens + $LineTokens], ' ') AS seg
       |  FROM seg),
       |first_owner AS (
       |  SELECT seg, MIN(ROW(doc_id, idx)) AS first_ord FROM segs GROUP BY seg),
       |flagged AS (
       |  SELECT s.doc_id, s.idx, s.seg, ROW(s.doc_id, s.idx) = f.first_ord AS keep
       |  FROM segs s JOIN first_owner f USING (seg))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_segs,
       |  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       |  COALESCE(string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE keep), '')
       |    AS kept_text
       |FROM flagged GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d13

  /** d13_lsh_calibration — MinHash estimator calibration report over a
    * BOUNDED doc_id-ordered sample of the candidate pairs the d2
    * banding surfaces (each bucket member pairs with ≤ CALIB_NEIGHBORS
    * successors): compare the signature's similarity ESTIMATE (matching
    * components / k — the unbiased MinHash estimator) against the exact
    * shingle Jaccard, and aggregate the error by exact-similarity
    * decile. This is the measurement that justifies (k=64, 16×4 bands)
    * before a 100 TB dedup run: the per-decile mean/max estimator error
    * (theory: σ = √(s(1−s)/k) ≈ 62‰ at s=0.5) and, per decile, the
    * per-bucket-windowed pair count `n_pairs` — a deterministic sample
    * size, NOT total S-curve pair mass (sizing a full dedup's pair
    * volume needs d2/d14, which keep the complete candidate set).
    * Run on a sample, read the report, THEN spend
    * the cluster — the alternative is discovering a miscalibrated
    * threshold after the run deleted 8% of the corpus.
    *
    * All arithmetic is integer permille (matches·1000 DIV k,
    * inter·1000 DIV union), so the report is hash-exact cross-engine.
    * Scale shape: d2's signature pass and band groupBy with the
    * bucket-size skew guard, then BOUNDED per-bucket pairing — each
    * member pairs with ≤ CALIB_NEIGHBORS doc_id-ordered successors, so
    * pair count stays linear in bucket occupancy even when dup-family
    * size grows with the corpus (C(s,2) does not: the r13 sf10
    * measurement hit 24.3M pairs = 76× sf1's for 10× data before the
    * window). The report itself is a ≤11-row aggregate. [oracle]
    */
  def d13_lsh_calibration(spark: SparkSession, dir: String): DataFrame = {
    // One persisted doc frame carrying shingles AND the signature: the
    // scoring stage attaches both sides in TWO doc-keyed joins instead of
    // four (sig×2 + shingles×2), halving the pair-table shuffle count —
    // at 100 TB the pair table is the widest thing in flight and every
    // extra attach join re-exchanges it.
    val info = withShingles(Tables(spark, dir).documents)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
      .withColumn("sig",
        graft.functions.HashExpressions.shaMinHash(col("shingles"), K))
      .persistTracked
    // Bounded per-bucket pairing: each member pairs only with its next
    // CALIB_NEIGHBORS doc_id-ordered successors, so a bucket of size s
    // yields ≤ s·W pairs instead of C(s,2). Calibration needs a
    // REPRESENTATIVE pair sample per bucket, not every pair — and C(s,2)
    // is exactly where a corpus whose dup families grow with its size
    // (r13 measurement: the rotated sf10 corpus carries 100-member
    // bigram-shingle families, 24.3M pairs vs sf1's 0.32M = 76× for 10×
    // data) turns a linear report quadratic.
    bucketPairs(shaBands(info.select("doc_id", "sig")).persistTracked,
        Seq("band", "bkey"), 100, CALIB_NEIGHBORS)
      .join(info.select(col("doc_id").as("id_a"), col("sig").as("sig_a"),
        col("shingles").as("sh_a"), col("n").as("n_a")), Seq("id_a"))
      .join(info.select(col("doc_id").as("id_b"), col("sig").as("sig_b"),
        col("shingles").as("sh_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("est_pm", expr(
        s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) * 1000 DIV $K"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("exact_pm", expr("inter * 1000 DIV (n_a + n_b - inter)"))
      .withColumn("abs_err_pm", abs(col("est_pm") - col("exact_pm")))
      .groupBy(expr("exact_pm DIV 100").as("decile"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("sum(est_pm) DIV count(1)").as("mean_est_pm"),
        expr("sum(exact_pm) DIV count(1)").as("mean_exact_pm"),
        expr("sum(abs_err_pm) DIV count(1)").as("mean_abs_err_pm"),
        max("abs_err_pm").as("max_abs_err_pm"))
      .orderBy("decile")
  }

  /** DuckDB mirror of d13: d2's signature/banding SQL, the same
    * estimator and decile arithmetic (SQL generated from the shared
    * constants — the 64 per-component equality terms are spelled out).
    */
  lazy val d13_oracle: String = {
    val minExprs = (0 until K)
      .map(k => s"MIN((${minhashA(k)} * h + ${minhashB(k)}) % $MINHASH_P) AS m$k")
      .mkString(",\n      ")
    val bandRows = (0 until BANDS).map { b =>
      val key = (0 until ROWS_PER_BAND).map(r => s"m${b * ROWS_PER_BAND + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $key) AS bkey FROM sig"
    }.mkString("\n      UNION ALL ")
    val eqTerms = (0 until K)
      .map(k => s"CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sh AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
       |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    ELSE [array_to_string(toks, ' ')] END) AS shingles
       |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |        FROM documents)),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(sha256(s), 1, 8))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |      $minExprs
       |  FROM hashed GROUP BY doc_id),
       |exploded AS MATERIALIZED (
       |      $bandRows),
       |buckets AS (
       |  SELECT band, bkey FROM exploded GROUP BY band, bkey
       |  HAVING COUNT(*) BETWEEN 2 AND 100),
       |members AS MATERIALIZED (SELECT e.doc_id, e.band, e.bkey FROM exploded e JOIN buckets USING (band, bkey)),
       |ranked AS MATERIALIZED (
       |  SELECT doc_id, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rk
       |  FROM members),
       |cand AS (
       |  SELECT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM ranked l JOIN ranked r
       |    ON l.band = r.band AND l.bkey = r.bkey
       |   AND r.rk > l.rk AND r.rk <= l.rk + $CALIB_NEIGHBORS
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT id_a, id_b,
       |    ($eqTerms) * 1000 // $K AS est_pm,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) * 1000
       |      // (len(sa.shingles) + len(sb.shingles)
       |          - len(list_intersect(sa.shingles, sb.shingles))) AS exact_pm
       |  FROM cand
       |  JOIN sig a ON a.doc_id = id_a
       |  JOIN sig b ON b.doc_id = id_b
       |  JOIN sh sa ON sa.doc_id = id_a
       |  JOIN sh sb ON sb.doc_id = id_b)
       |SELECT exact_pm // 100 AS decile,
       |  COUNT(*) AS n_pairs,
       |  CAST(SUM(est_pm) // COUNT(*) AS BIGINT) AS mean_est_pm,
       |  CAST(SUM(exact_pm) // COUNT(*) AS BIGINT) AS mean_exact_pm,
       |  CAST(SUM(abs(est_pm - exact_pm)) // COUNT(*) AS BIGINT) AS mean_abs_err_pm,
       |  CAST(MAX(abs(est_pm - exact_pm)) AS BIGINT) AS max_abs_err_pm
       |FROM scored GROUP BY 1 ORDER BY decile""".stripMargin
  }

  // ---------------------------------------------------------------- d14

  /** d14's doc frame + FULL candidate-pair frame, exposed package-private
    * so DedupSpec can pin the candidate count against the banding
    * closed form (r13 verdict item 5): d14 deliberately keeps the
    * complete pair set — a retention audit that samples pairs changes
    * answers — so the one regression class its design exposes is a
    * banding change silently inflating (or windowing) the pair count.
    * The spec counts THIS frame, the same object d14 consumes.
    */
  private[graft] def d14BaseAndCandidates(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = withShingles(Tables(spark, dir).documents)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("quality", expr(
        s"size(filter(toks, x -> x IN (${TextOps.STOPWORDS_SQL}))) * 1000 DIV greatest(n_toks, 1)"))
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"),
        col("n_toks"), col("quality"))
      .persistTracked
    val sig = base.withColumn("sig",
      graft.functions.HashExpressions.shaMinHash(col("shingles"), K))
      .select("doc_id", "sig")
    (base, bucketPairs(shaBands(sig).persistTracked, Seq("band", "bkey"), 100, 0))
  }

  /** d14_retention_policies — dedup RETENTION-POLICY audit: given the
    * verified near-dup pairs (d2's LSH candidates at exact Jaccard
    * ≥ 700‰), compare what three standard policies would keep —
    * `keep_first` (smallest doc_id wins: the C4/stream discipline),
    * `keep_longest` (more tokens wins: maximize retained mass), and
    * `keep_best` (higher stopword-permille quality wins: t2/t19's
    * naturalness signal) — reporting per policy the docs and tokens
    * dropped, kept, and the kept set's mean quality. Dedup debates are
    * retention-policy debates: the pair set is identical, only the
    * survivor rule differs, and this report is how a data team chooses
    * BEFORE the run deletes the corpus. A doc is dropped iff it loses to
    * some verified neighbor (the greedy one-pass rule every production
    * dedup applies); ties break to the smaller doc_id surviving.
    *
    * All arithmetic is integer permille. Scale shape: d2's exactly for
    * the pair set (bucketed LSH, never all-pairs); the policy audit adds
    * one loser-explode over the PAIR table (3 rows per pair), a distinct
    * doc-keyed collapse, and a 3-row aggregate joined against 1-row
    * corpus totals. [oracle]
    */
  def d14_retention_policies(spark: SparkSession, dir: String): DataFrame = {
    val (base, cands) = d14BaseAndCandidates(spark, dir)
    val stats = base.select("doc_id", "n_toks", "quality")
    // base already carries length + quality: attach them in the SAME two
    // doc-keyed joins that bring the shingles (two extra ints riding an
    // already-shuffled row) instead of re-joining the verified pairs
    // against stats twice — 2 pair-table shuffles instead of 4
    val pairs = cands
      .join(base.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"),
        col("n").as("n_a"), col("n_toks").as("len_a"), col("quality").as("q_a")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"),
        col("n").as("n_b"), col("n_toks").as("len_b"), col("quality").as("q_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(expr("inter * 1000 DIV (n_a + n_b - inter) >= 700"))
    val losers = pairs.select(explode(array(
      struct(lit("keep_first").as("policy"), col("id_b").as("loser")),
      struct(lit("keep_longest").as("policy"), expr(
        "CASE WHEN len_a < len_b THEN id_a WHEN len_b < len_a THEN id_b ELSE id_b END").as("loser")),
      struct(lit("keep_best").as("policy"), expr(
        "CASE WHEN q_a < q_b THEN id_a WHEN q_b < q_a THEN id_b ELSE id_b END").as("loser"))
    )).as("pl")).select(col("pl.policy"), col("pl.loser")).distinct()
    val totals = stats.agg(
      count(lit(1)).as("total_docs"),
      sum("n_toks").cast("long").as("total_tokens"),
      sum("quality").cast("long").as("total_quality"))
    losers
      .join(stats.withColumnRenamed("doc_id", "loser"), Seq("loser"))
      .groupBy("policy")
      .agg(
        count(lit(1)).as("n_dropped"),
        sum("n_toks").cast("long").as("tokens_dropped"),
        sum("quality").cast("long").as("q_dropped"))
      .crossJoin(broadcast(totals))
      .select(
        col("policy"),
        col("n_dropped"),
        col("tokens_dropped"),
        (col("total_docs") - col("n_dropped")).as("n_kept"),
        (col("total_tokens") - col("tokens_dropped")).as("tokens_kept"),
        expr("(total_quality - q_dropped) DIV (total_docs - n_dropped)")
          .as("kept_quality_pm"))
      .orderBy("policy")
  }

  /** DuckDB mirror of d14: d2's signature/banding CTEs, the same
    * verify threshold, loser rules, and kept-set arithmetic.
    */
  lazy val d14_oracle: String = {
    val minExprs = (0 until K)
      .map(k => s"MIN((${minhashA(k)} * h + ${minhashB(k)}) % $MINHASH_P) AS m$k")
      .mkString(",\n      ")
    val bandRows = (0 until BANDS).map { b =>
      val key = (0 until ROWS_PER_BAND).map(r => s"m${b * ROWS_PER_BAND + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $key) AS bkey FROM sig"
    }.mkString("\n      UNION ALL ")
    s"""WITH tok AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |base AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) >= 2
       |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |      ELSE [array_to_string(toks, ' ')] END) AS shingles,
       |    CAST(len(toks) AS BIGINT) AS n_toks,
       |    CAST(len(list_filter(toks, x -> x IN (${TextOps.STOPWORDS_SQL}))) AS BIGINT)
       |      * 1000 // greatest(CAST(len(toks) AS BIGINT), 1) AS quality
       |  FROM tok),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(sha256(s), 1, 8))::BIGINT AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS s FROM base)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |      $minExprs
       |  FROM hashed GROUP BY doc_id),
       |exploded AS MATERIALIZED (
       |      $bandRows),
       |buckets AS (
       |  SELECT band, bkey FROM exploded GROUP BY band, bkey
       |  HAVING COUNT(*) BETWEEN 2 AND 100),
       |members AS MATERIALIZED (SELECT e.doc_id, e.band, e.bkey FROM exploded e JOIN buckets USING (band, bkey)),
       |cand AS (
       |  SELECT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM members l JOIN members r
       |    ON l.band = r.band AND l.bkey = r.bkey AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b, sa.n_toks AS len_a, sb.n_toks AS len_b,
       |         sa.quality AS q_a, sb.quality AS q_b
       |  FROM cand
       |  JOIN base sa ON sa.doc_id = id_a
       |  JOIN base sb ON sb.doc_id = id_b
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) * 1000
       |    // (len(sa.shingles) + len(sb.shingles)
       |        - len(list_intersect(sa.shingles, sb.shingles))) >= 700),
       |losers AS (
       |  SELECT DISTINCT policy, loser FROM (
       |    SELECT 'keep_first' AS policy, id_b AS loser FROM pairs
       |    UNION ALL
       |    SELECT 'keep_longest',
       |      CASE WHEN len_a < len_b THEN id_a WHEN len_b < len_a THEN id_b ELSE id_b END
       |    FROM pairs
       |    UNION ALL
       |    SELECT 'keep_best',
       |      CASE WHEN q_a < q_b THEN id_a WHEN q_b < q_a THEN id_b ELSE id_b END
       |    FROM pairs)),
       |totals AS (
       |  SELECT COUNT(*) AS total_docs, CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       |         CAST(SUM(quality) AS BIGINT) AS total_quality
       |  FROM base)
       |SELECT policy,
       |  COUNT(*) AS n_dropped,
       |  CAST(SUM(b.n_toks) AS BIGINT) AS tokens_dropped,
       |  CAST(total_docs - COUNT(*) AS BIGINT) AS n_kept,
       |  CAST(total_tokens - SUM(b.n_toks) AS BIGINT) AS tokens_kept,
       |  CAST((total_quality - SUM(b.quality)) // (total_docs - COUNT(*)) AS BIGINT)
       |    AS kept_quality_pm
       |FROM losers JOIN base b ON b.doc_id = loser
       |CROSS JOIN totals
       |GROUP BY policy, total_docs, total_tokens, total_quality
       |ORDER BY policy""".stripMargin
  }

  // ---------------------------------------------------------------- d15

  /** d15_incremental_dedup — dedup the DELTA against yesterday's corpus
    * without rescanning it: the existing corpus (even doc_ids stand in
    * for "already ingested") is reduced to its 32-byte sha256 digest
    * index, and each incoming increment doc (odd doc_ids) is graded
    * `dup_of_index` (its digest already exists), `dup_in_increment`
    * (an earlier increment doc — smaller doc_id — has the same digest:
    * keep-first WITHIN the delta, d1's discipline), or `new`. This is
    * the only dedup shape that works operationally at 100 TB: a daily
    * crawl drop joins digests against the standing index — the old
    * corpus's TEXT is never read again, only its digest table (which a
    * real deployment keeps materialized; q65's streaming dedup-INDEX is
    * the continuous version of the same contract).
    *
    * Scale shape: one corpus scan splitting into the two sides, digests
    * computed in the narrow pass; the index side carries (digest) only,
    * the increment side (doc_id, digest, n_toks); one digest-keyed
    * left-semi-shaped join + one digest groupBy for the within-delta
    * first owner. Nothing wider than 32-byte keys ever shuffles. [oracle]
    */
  def d15_incremental_dedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), sha2(col("text"), 256).as("dg"),
        expr(s"cast(size(${TextOps.TOKENS}) as bigint)").as("n_toks"))
      .persistTracked // one scan feeds both sides
    val index = docs.filter(col("doc_id") % 2 === 0).select(col("dg")).distinct()
    val inc = docs.filter(col("doc_id") % 2 === 1)
    val firstOwner = inc.groupBy("dg").agg(min("doc_id").as("first_id"))
    inc
      .join(index.withColumn("in_index", lit(true)), Seq("dg"), "left")
      .join(firstOwner, Seq("dg"))
      .withColumn("verdict",
        when(col("in_index"), "dup_of_index")
          .when(col("doc_id") > col("first_id"), "dup_in_increment")
          .otherwise("new"))
      .select("doc_id", "n_toks", "verdict")
      .orderBy("doc_id")
  }

  /** DuckDB mirror of d15: same digest split, index join, first-owner
    * rule.
    */
  val d15_oracle: String =
    """WITH docs AS (
      |  SELECT doc_id, sha256(text) AS dg,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
      |      AS n_toks
      |  FROM documents),
      |idx AS (SELECT DISTINCT dg FROM docs WHERE doc_id % 2 = 0),
      |inc AS (SELECT * FROM docs WHERE doc_id % 2 = 1),
      |first_owner AS (SELECT dg, MIN(doc_id) AS first_id FROM inc GROUP BY dg)
      |SELECT i.doc_id, i.n_toks,
      |  CASE WHEN idx.dg IS NOT NULL THEN 'dup_of_index'
      |       WHEN i.doc_id > f.first_id THEN 'dup_in_increment'
      |       ELSE 'new' END AS verdict
      |FROM inc i
      |LEFT JOIN idx ON idx.dg = i.dg
      |JOIN first_owner f ON f.dg = i.dg
      |ORDER BY i.doc_id""".stripMargin
}
