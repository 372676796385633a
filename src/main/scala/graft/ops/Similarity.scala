package graft.ops

import graft.Tables
import graft.Caching.PersistSyntax
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Nearest-neighbor and retrieval search over the embeddings and
  * documents tables (SURVEY §2C): the s1–s15 family. Every vector entry
  * probes with the same query set (the first 10 vectors; 3 for s7) and
  * ranks on the same rounded cosine with a neighbor_id tiebreak, so the
  * exact paths are hashed against DuckDB and the trained ones carry a
  * recall contract against the exact baseline:
  *
  *  - exact scans (broadcast queries, one corpus pass): s1 top-k, s4
  *    k-NN vote, s11 MMR, s12 range, s13 filtered, and s7's dense half;
  *  - hyperplane LSH (corpus bucketed once): s2 single-probe, s5
  *    multi-probe, s14 its recall report, s15 the kNN graph;
  *  - compressed indexes, shortlist then exact rerank — the
  *    local-shortlist → global-rerank shape: s3 IVF, s6 PQ, s9 IVF-PQ,
  *    s10 int8 SQ;
  *  - lexical: s8 BM25, and s7's keyword half fused by RRF.
  *
  * The steps they share are written once: [[queryFrame]] (the query
  * side), [[cosine]] / [[scoreNeighbors]] (the rounded score),
  * [[topKPerQuery]] (bounded-heap cut + rank), [[rerank]] (shortlist →
  * exact top-5), [[trainCoarseCentroids]] (the IVF quantizer),
  * [[trainPq]] (the PQ codebooks) and [[recallEntry]] (s3/s6/s9's
  * contract over one persisted [[unitFrame]]).
  *
  * Vector math runs on native codegen'd expressions (DotProduct,
  * L2Normalize) — no UDFs.
  */
object Similarity {

  /** Exact dot product of two unit-vector array columns — the native
    * codegen'd expression (graft.functions.DotProduct): a generated Java
    * loop instead of interpreted zip_with/aggregate lambdas.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.HashExpressions.dotProduct(a, b)

  /** Adds `unit`: the L2-normalized embedding as array<double> — one
    * codegen'd two-pass loop (graft.functions.L2Normalize). The old HOF
    * chain (cast-transform → aggregate → divide-transform) collapsed
    * under CollapseProject into a single transform whose lambda re-ran
    * the sum-of-squares fold per ELEMENT: O(d²) per row, interpreted.
    */
  def withUnit(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("unit",
      graft.functions.HashExpressions.l2Normalize(col("embedding")))

  /** Deterministic INTEGER-valued hyperplanes: coefficient (p,d) is a
    * fixed multiplicative-hash formula of its index, so the exact same
    * plane values are constructible in any engine (the DuckDB oracles
    * embed them as literals). Random-hyperplane LSH only needs the plane
    * directions to be "spread out" — integer pseudo-random coefficients
    * partition the sphere just like Gaussians do.
    */
  def integerPlanes(planes: Int, dim: Int, seed: Long): Array[Array[Long]] =
    Array.tabulate(planes, dim) { (p, d) =>
      val i = p.toLong * dim + d + 1
      (i * (2654435761L + 2 * seed)) % 1000003L - 501001L
    }

  /** Adds `bucket`: sign-bit code over `planes` deterministic integer
    * hyperplanes (identical across executors, runs, and engines).
    */
  def withHyperplaneBucket(unitDf: DataFrame, planes: Int, seed: Long): DataFrame = {
    val ws = integerPlanes(planes, 64, seed)
    val planeCols = (0 until planes).map { p =>
      val w = array(ws(p).map(v => lit(v.toDouble)).toIndexedSeq: _*)
      when(dot(col("unit"), w) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    unitDf.withColumn("bucket", planeCols.reduce(_ + _))
  }

  /** SQL fragment computing the same bucket for a `unit` double-list
    * column (DuckDB syntax; used by the d5/s2 oracles).
    */
  def bucketSql(planes: Int, seed: Long, unitCol: String): String =
    integerPlanes(planes, 64, seed).zipWithIndex.map { case (w, p) =>
      val lits = w.map(v => s"${v.toDouble}").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($unitCol, $lits) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** The persisted (vec_id, unit) frame the compressed indexes build
    * over: normalized once, read by training, encoding and rerank.
    */
  private[ops] def unitFrame(spark: SparkSession, dir: String): DataFrame =
    graft.Caching.persist(withUnit(Tables(spark, dir).embeddings).select("vec_id", "unit"))

  /** The query side: the first `n` vectors as (query_id, qunit, extra…). */
  private def queryFrame(unit: DataFrame, n: Int, extra: Column*): DataFrame =
    unit.filter(col("vec_id") < n)
      .select(Seq(col("vec_id").as("query_id"), col("unit").as("qunit")) ++ extra: _*)

  /** The score every ranked entry orders and ties on: query-to-doc
    * cosine rounded to 1e-6, so rank order is engine-independent.
    */
  private def cosine(name: String = "cosine"): Column =
    round(dot(col("qunit"), col("unit")), 6).as(name)

  /** (query_id, neighbor_id, cosine) of a query × corpus candidate frame. */
  private def scoreNeighbors(cands: DataFrame): DataFrame =
    cands.select(col("query_id"), col("vec_id").as("neighbor_id"), cosine())

  /** Top-k scored neighbors per query. The k-selection runs through the
    * native bounded-heap operator (graft.plans.TopKPerGroup) — no sort of
    * the full scored set, and the shuffle carries ≤ k rows per query per
    * map partition. The rank column is then a window over the ≤ k·|Q|
    * surviving rows (trivial at any corpus size).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    graft.plans.TopKPerGroup
      .topKPerGroup(scored, Seq("query_id"), Seq(("cosine", false), ("neighbor_id", true)), k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .orderBy("query_id", "rank")
  }

  /** s1_ann_topk — exact cosine top-5 for queries vec_id < 10.
    *
    * Oracle-checked: unit-normalization and the dot product are
    * sequential double folds in both engines (float→double cast is
    * exact, division and multiply-add are IEEE-deterministic), and
    * ranking happens on the ROUNDED cosine with a neighbor_id tiebreak,
    * so rank order is engine-independent. [oracle]
    */
  def s1_ann_topk(spark: SparkSession, dir: String): DataFrame =
    exactTopK(withUnit(Tables(spark, dir).embeddings))

  /** Exact scoring over a pre-normalized frame — shared by s1 and the
    * recall baseline so the normalization pass runs once.
    */
  private def exactTopK(unit: DataFrame): DataFrame =
    topKPerQuery(scoreNeighbors(
      unit.join(broadcast(queryFrame(unit, 10)), col("vec_id") =!= col("query_id"))), 5)

  /** The tail of every compressed index (s6, s9, s10): keep each
    * query's top `nShort` candidates by the approximate `score` (vec_id
    * tiebreak) through the native bounded heap, join the survivors back
    * to their full vectors and the broadcast query vectors, and rank the
    * exact rounded cosine — top 5 per query. Rerank reads
    * O(nShort·|Q|) rows, never O(corpus).
    */
  private[ops] def rerank(scored: DataFrame, score: String, nShort: Int,
                          unit: DataFrame): DataFrame = {
    val shortlist = graft.plans.TopKPerGroup
      .topKPerGroup(scored, Seq("query_id"), Seq((score, false), ("vec_id", true)), nShort)
    topKPerQuery(scoreNeighbors(shortlist.join(unit, Seq("vec_id"))
      .join(broadcast(queryFrame(unit, 10)), Seq("query_id"))), 5)
  }

  /** DuckDB mirror of s1: same normalize→dot→round→rank pipeline.
    * list_dot_product(v, v) supplies the squared norm so the summation
    * pairing matches the Spark side's fold exactly.
    */
  val s1_oracle: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id,
      |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
      |  FROM v),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(q.unit, c.unit), 6) AS cosine
      |  FROM u q JOIN u c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, cosine, rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** IVF shape shared by s3 and s9: Nlist coarse cells, Nprobe probed. */
  private val Nlist = 16
  private val Nprobe = 4

  /** IVF-style ANN ranking: a coarse quantizer (nlist centroids trained
    * with 2 distributed Lloyd iterations) partitions the corpus into
    * inverted lists; each query probes its `nprobe` nearest lists and
    * ranks candidates exactly. The 100 TB shape: training touches the
    * corpus twice (narrow map + 1024-row aggregate), assignment is one
    * narrow pass, and each query scores ~nprobe/nlist of the corpus.
    * Deterministic init (first nlist vectors); the trained centroid
    * averages are float-sum shuffle-order-dependent, so raw rankings
    * aren't cross-engine hashable — the driver entry (s3_ann_ivf) checks
    * the recall INVARIANT against the exact s1 baseline instead.
    */
  private[ops] def ivfTopK(unit: DataFrame): DataFrame = {
    val centroids = trainCoarseCentroids(unit, Nlist, 2)
    // assign corpus to inverted lists; queries probe Nprobe lists
    val scored = assignToCentroid(unit, centroids)
      .join(broadcast(probedCells(unit, centroids)), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
    topKPerQuery(scoreNeighbors(scored), 5)
  }

  /** Coarse quantizer training: deterministic init (first nlist unit
    * vectors) + `rounds` distributed Lloyd iterations. Driver state is
    * nlist×64 doubles — O(centroids), never O(corpus); each round is one
    * narrow assignment pass + a 1024-row means aggregate. An empty
    * cluster resets to the zero vector.
    */
  private def trainCoarseCentroids(unit: DataFrame, nlist: Int,
                                   rounds: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = unit
      .filter(col("vec_id") < nlist).orderBy("vec_id")
      .collect().map(_.getSeq[Double](1).toArray)
    for (_ <- 0 until rounds) {
      val assigned = assignToCentroid(unit, centroids)
      // per-(cluster, dim) mean: 16×64 = 1024 rows back to the driver
      val means = assigned
        .select(col("cluster"), posexplode(col("unit")).as(Seq("dim", "v")))
        .groupBy("cluster", "dim").agg(avg("v").as("m"))
        .collect()
      val next = Array.fill(nlist)(new Array[Double](64))
      means.foreach(r => next(r.getAs[Int]("cluster"))(r.getAs[Int]("dim")) = r.getAs[Double]("m"))
      centroids = next.map { c =>
        val n = math.sqrt(c.map(x => x * x).sum)
        if (n == 0) c else c.map(_ / n)
      }
    }
    centroids
  }

  /** Each query's Nprobe best-scoring cells: one (query_id, qunit,
    * cluster) row per probe.
    */
  private def probedCells(unit: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    queryFrame(unit, 10)
      .withColumn("probes", slice(sortCentroidsByScore(col("qunit"), centroids), 1, Nprobe))
      .select(col("query_id"), col("qunit"), explode(col("probes")).as("cluster"))

  /** Minimum acceptable mean recall@5 of the IVF path (nprobe=4 of
    * nlist=16) against the exact s1 baseline.
    */
  val IvfMinRecall = 0.6

  /** The exact s1 top-5 (query_id, neighbor_id) pairs per data dir,
    * computed at most once per JVM and kept driver-side (≤ 50 pairs —
    * O(k·|Q|) state, never O(corpus)). Both recall contracts (s3's IVF,
    * s6's PQ) measure against this one materialized baseline instead of
    * each re-running the full exact scan — the baseline is a shared test
    * FIXTURE of the contracts, not part of either ANN operator's work.
    */
  private val exactPairsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Long)]]()

  /** Cheap content fingerprint of the embeddings parquet under `dir`
    * (file names + lengths + mtimes): the baseline cache key carries it
    * so a long-lived JVM that sees the data regenerated in place
    * recomputes the exact baseline instead of validating recall against
    * stale pairs. A metadata listing, no data read.
    */
  private def embeddingsFingerprint(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) "absent"
    else {
      val parts = fs.listStatus(p).map(s =>
          s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString(",")
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(parts))
    }
  }

  private def exactBaselinePairs(spark: SparkSession, dir: String,
                                 unit: DataFrame): Seq[(Long, Long)] =
    exactPairsCache.computeIfAbsent(s"$dir@${embeddingsFingerprint(spark, dir)}", _ =>
      exactTopK(unit).select("query_id", "neighbor_id")
        .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))))

  /** One-row (n_queries, k, recall_ok) contract of an ANN result against
    * the exact baseline pairs: recall@k = |exact ∩ ann| / (n_queries·k).
    * n_queries and k are read off the ≤50 collected pairs on the driver;
    * the only distributed work is the ANN pipeline under test. An empty
    * baseline (empty corpus) has no recall: the row is (0, 0, null).
    */
  private def recallContract(ann: DataFrame, pairs: Seq[(Long, Long)],
                             minRecall: Double): DataFrame = {
    val spark = ann.sparkSession
    import spark.implicits._
    val nQueries = pairs.map(_._1).distinct.size.toLong
    val k = if (nQueries == 0) 0L else pairs.size / nQueries
    val exactDf = broadcast(pairs.toDF("query_id", "neighbor_id"))
    // distinct BEFORE counting hits: an ANN result that emits the same
    // (query, neighbor) pair twice (multi-probe overlap, un-deduped
    // rerank) must count one true hit, not inflate recall past reality.
    // (r14 note: a driver-side collect-and-compare variant was measured
    // — job counts and walls were unchanged within noise, and it erased
    // the ANN pipeline from the entry's explain output; kept lazy.)
    val hits = ann.select("query_id", "neighbor_id").distinct()
      .join(exactDf, Seq("query_id", "neighbor_id"), "left_semi")
    val recallOk =
      if (nQueries * k == 0) lit(null).cast("boolean")
      else col("n_hits").cast("double") / (nQueries * k) >= minRecall
    hits.agg(count(lit(1)).as("n_hits"))
      .select(lit(nQueries).as("n_queries"), lit(k).as("k"), recallOk.as("recall_ok"))
  }

  /** The entry shape of the trained indexes (s3, s6, s9): build `index`
    * over one persisted unit frame and emit its recall contract against
    * the exact baseline scored over that same frame.
    */
  private def recallEntry(spark: SparkSession, dir: String, minRecall: Double)(
      index: DataFrame => DataFrame): DataFrame = {
    val unit = unitFrame(spark, dir)
    recallContract(index(unit), exactBaselinePairs(spark, dir, unit), minRecall)
  }

  /** s3_ann_ivf — the IVF operator's driver entry: runs `ivfTopK` and
    * emits the engine-independent quality contract as one row —
    * (n_queries, k, recall@5 ≥ IvfMinRecall) against the shared exact
    * baseline. The oracle pins the expected literals, so a
    * quantizer/probe regression that drops recall breaks the hash even
    * though raw IVF rankings are not themselves cross-engine
    * reproducible. [oracle]
    */
  def s3_ann_ivf(spark: SparkSession, dir: String): DataFrame =
    recallEntry(spark, dir, IvfMinRecall)(ivfTopK)

  /** Invariant oracle for s3: the literal quality contract. */
  val s3_oracle: String =
    """SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
      |       TRUE AS recall_ok""".stripMargin

  /** cluster id = argmax_c dot(unit, centroid_c), ties to lowest id; a
    * typed null when no centroid was trained (the first Lloyd round over
    * an empty corpus).
    */
  private def assignToCentroid(unitDf: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    unitDf.withColumn("cluster",
      if (centroids.isEmpty) lit(null).cast("int")
      else element_at(sortCentroidsByScore(col("unit"), centroids), 1))

  /** centroid ids sorted by descending dot-score against `v`. */
  private def sortCentroidsByScore(v: Column, centroids: Array[Array[Double]]): Column = {
    val scoredIds = centroids.zipWithIndex.map { case (c, i) =>
      val w = array(c.map(lit).toIndexedSeq: _*)
      struct((-dot(v, w)).as("negscore"), lit(i).as("id"))
    }
    transform(array_sort(array(scoredIds.toIndexedSeq: _*)), s => s.getField("id"))
  }

  /** s4_knn_label — k-NN classification join: each query vector takes the
    * majority label among its 5 exact nearest neighbors (ties break to the
    * smallest label, making the vote engine-independent). The supervised
    * cousin of s1: same broadcast-queries/scan-corpus-once shape plus a
    * tiny per-query vote aggregate — the standard label-propagation /
    * weak-supervision primitive over an embedded corpus. [oracle]
    */
  def s4_knn_label(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val neighbors = s1_ann_topk(spark, dir)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label").cast("long").as("label")),
        Seq("neighbor_id"))
    neighbors
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("query_id")
      .agg(max_by(col("label"), col("votes") * 1000L - col("label")).as("knn_label"),
        max(col("votes")).as("top_votes"))
      .join(emb.select(col("vec_id").as("query_id"), col("label").cast("long").as("true_label")),
        Seq("query_id"))
      .select("query_id", "true_label", "knn_label", "top_votes")
      .orderBy("query_id")
  }

  val s4_oracle: String =
    """WITH v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, label,
      |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
      |  FROM v),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(c.label AS BIGINT) AS label,
      |    round(list_dot_product(q.unit, c.unit), 6) AS cosine
      |  FROM u q JOIN u c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |ranked AS (
      |  SELECT query_id, neighbor_id, label,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM scored),
      |votes AS (
      |  SELECT query_id, label, COUNT(*) AS votes
      |  FROM ranked WHERE rank <= 5 GROUP BY query_id, label),
      |win AS (
      |  SELECT query_id,
      |    arg_max(label, votes * 1000 - label) AS knn_label,
      |    CAST(MAX(votes) AS BIGINT) AS top_votes
      |  FROM votes GROUP BY query_id)
      |SELECT w.query_id, CAST(e.label AS BIGINT) AS true_label,
      |       w.knn_label, w.top_votes
      |FROM win w JOIN embeddings e ON e.vec_id = w.query_id
      |ORDER BY w.query_id""".stripMargin

  /** DuckDB mirror of s2: identical integer hyperplanes → identical
    * buckets → identical candidate sets; then s1's exact ranking.
    */
  lazy val s2_oracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
       |  FROM v),
       |b AS (
       |  SELECT vec_id, unit, ${bucketSql(6, 7L, "unit")} AS bucket FROM u),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.unit, c.unit), 6) AS cosine
       |  FROM b q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** s2_ann_lsh — LSH-bucketed cosine top-5: queries probe only their
    * hyperplane bucket (single-probe). Trades recall for a ~2^planes
    * candidate reduction; the spec measures overlap vs s1. Buckets come
    * from engine-independent integer hyperplanes, so the whole path is
    * oracle-checked. [oracle]
    */
  def s2_ann_lsh(spark: SparkSession, dir: String): DataFrame = {
    val unit = withHyperplaneBucket(withUnit(Tables(spark, dir).embeddings), planes = 6, seed = 7L)
    val q = broadcast(queryFrame(unit, 10, col("bucket").as("qbucket")))
    topKPerQuery(scoreNeighbors(unit
      .join(q, col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))), 5)
  }

  /** s5_ann_multiprobe — multi-probe LSH (Lv et al., VLDB 2007, public):
    * each query probes its own bucket PLUS the `planes` buckets at
    * Hamming distance 1 (one sign bit flipped — the perturbations most
    * likely to hold a near neighbor that fell just across one
    * hyperplane). Recall rises toward s1's without adding planes or
    * re-bucketing the corpus: the CORPUS side is untouched (still one
    * narrow bucket pass); only the tiny broadcast query side fans out
    * ×(planes+1). The standard recall/latency dial at 100 TB — same
    * bucketed corpus serves single-probe (s2) and multi-probe (s5)
    * queries. Deterministic integer planes → exact oracle. [oracle]
    */
  def s5_ann_multiprobe(spark: SparkSession, dir: String): DataFrame = {
    val planes = 6
    val unit = withHyperplaneBucket(withUnit(Tables(spark, dir).embeddings), planes, seed = 7L)
    val probes = queryFrame(unit, 10, col("bucket").as("qbucket"))
      .withColumn("flip",
        explode(array((lit(0L) +: (0 until planes).map(p => lit(1L << p))).toIndexedSeq: _*)))
      .select(col("query_id"), col("qunit"),
        col("qbucket").bitwiseXOR(col("flip")).as("pbucket"))
    topKPerQuery(scoreNeighbors(unit
      .join(broadcast(probes),
        col("bucket") === col("pbucket") && col("vec_id") =!= col("query_id"))), 5)
  }

  /** DuckDB mirror of s5: same planes, candidates = bucket XOR ∈
    * {0} ∪ {2^p}, then s1's exact ranking.
    */
  lazy val s5_oracle: String = {
    val flips = (Seq(0L) ++ (0 until 6).map(p => 1L << p)).mkString(", ")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
       |  FROM v),
       |b AS (
       |  SELECT vec_id, unit, ${bucketSql(6, 7L, "unit")} AS bucket FROM u),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.unit, c.unit), 6) AS cosine
       |  FROM b q JOIN b c
       |    ON xor(q.bucket, c.bucket) IN ($flips) AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Minimum acceptable mean recall@5 of the PQ+rerank path against the
    * exact s1 baseline (measured 0.90/0.98/0.84 at sf0.001/0.01/0.1;
    * pinned with headroom).
    */
  val PqMinRecall = 0.7

  /** PQ shape shared by s6 and s9: each 64-dim vector splits into PqM
    * subvectors of SubDim dims, each encoded as one of PqK codewords.
    */
  private val PqM = 16
  private val PqK = 16
  private val SubDim = 4

  /** Explodes the 64-dim array column `vec` into PqM rows of
    * (keep…, sub, `name`): the SubDim-dim slice of subspace `sub`.
    */
  private def subvectors(df: DataFrame, vec: String, keep: Seq[String],
                         name: String): DataFrame =
    df.select(keep.map(col) :+ explode(array((0 until PqM).map(s =>
        struct(lit(s).as("sub"), slice(col(vec), s * SubDim + 1, SubDim).as(name))
      ): _*)).as("sv"): _*)
      .select(keep.map(col) ++ Seq(col("sv.sub").as("sub"), col(s"sv.$name").as(name)): _*)

  /** Product-quantization codebook training, shared by s6 (subvectors of
    * the unit vectors) and s9 (subvectors of the IVF residuals) the way
    * [[trainCoarseCentroids]] is shared by s3 and s9. `subvecs` is
    * (vec_id, sub, subvec, carry…), hash(vec_id)-partitioned and
    * persisted by the caller, so every round's groupBy(vec_id, sub) and
    * the final encode ride that one exchange.
    *
    * Deterministic init (the subvectors of docs 0..PqK-1), then `rounds`
    * Lloyd rounds of ONE job each: the nearest-codeword assign fused into
    * the per-(sub, code, dim) means collect — 16×16×4 = 1024 keys,
    * O(codebook) driver state, never O(corpus). A codeword no subvector
    * chose keeps its previous value.
    *
    * Returns the broadcast codebook (sub, code, cvec, cnorm2), the codes
    * (vec_id, carry…, sub, code) and the corpus row count. The count
    * rides the last means collect — the (sub = 0, dim = 0) slice holds
    * one row per vec_id, so its group counts sum to |corpus| — one
    * count() job fewer.
    */
  private[ops] def trainPq(subvecs: DataFrame, rounds: Int,
                           carry: Seq[String] = Nil): (DataFrame, DataFrame, Long) = {
    val spark = subvecs.sparkSession
    import spark.implicits._

    def centDf(cent: Map[(Int, Int), Array[Double]]) =
      broadcast(cent.toSeq.map { case ((s, c), v) =>
        (s, c, v.toSeq, v.map(x => x * x).sum)
      }.toDF("sub", "code", "cvec", "cnorm2"))

    // Nearest codebook entry per (doc, subspace): broadcast join of the
    // 256-row codebook + max_by aggregate — argmin_c ||subvec − c||² =
    // argmax_c (dot − ||c||²/2), ties to the lowest code. A
    // literal-expression formulation (16-branch CASE WHEN over
    // per-subspace argmax, s3's mechanism) was benchmarked ~2× SLOWER
    // than this join at sf0.1 — the 256-dot expression tree blows past
    // codegen method limits and falls back to interpreted eval, while the
    // join keeps every operator inside whole-stage codegen. Carried
    // columns ride the aggregate (constant per vec_id, so first() is
    // deterministic): s9's encode reads `cluster` straight off the codes
    // instead of joining back to its assigned frame (r15 — one join, two
    // sorts and an aggregate input scan removed).
    def assign(cents: DataFrame): DataFrame =
      subvecs.join(cents, Seq("sub"))
        .withColumn("score", dot(col("subvec"), col("cvec")) - col("cnorm2") * 0.5)
        .groupBy("vec_id", "sub")
        .agg(max_by(col("code"), struct(col("score"), -col("code"))).as("code"),
          first(col("subvec")).as("subvec") +: carry.map(c => first(col(c)).as(c)): _*)

    var cent: Map[(Int, Int), Array[Double]] = subvecs.filter(col("vec_id") < PqK)
      .select("sub", "vec_id", "subvec").collect().map { r =>
        (r.getAs[Int]("sub"), r.getAs[Long]("vec_id").toInt) ->
          r.getSeq[Double](2).toArray
      }.toMap
    var corpusN = 0L
    for (_ <- 0 until rounds) {
      val means = assign(centDf(cent))
        .select(col("sub"), col("code"), posexplode(col("subvec")).as(Seq("dim", "v")))
        .groupBy("sub", "code", "dim").agg(avg("v").as("m"), count(lit(1)).as("cnt"))
        .collect()
      corpusN = means.filter(r =>
        r.getAs[Int]("sub") == 0 && r.getAs[Int]("dim") == 0)
        .map(_.getAs[Long]("cnt")).sum
      val next = scala.collection.mutable.Map(cent.toSeq: _*)
      means.groupBy(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"))).foreach {
        case (key, rows) =>
          val v = new Array[Double](SubDim)
          rows.foreach(r => v(r.getAs[Int]("dim")) = r.getAs[Double]("m"))
          next(key) = v
      }
      cent = next.toMap
    }

    val codebook = centDf(cent)
    val codes = assign(codebook).select((("vec_id" +: carry) ++ Seq("sub", "code")).map(col): _*)
    (codebook, codes, corpusN)
  }

  /** s6_ann_pq — product quantization (Jégou et al., TPAMI 2011,
    * public) with asymmetric-distance shortlisting and exact reranking:
    *
    *   1. TRAIN: split each 64-dim unit vector into M=16 subvectors of 4
    *      dims; per subspace, k-means with K=16 centroids ([[trainPq]],
    *      3 distributed Lloyd rounds). Driver state is 16×16×4 = 1024
    *      doubles — O(codebook), never O(corpus).
    *   2. ENCODE: each doc compresses to 16 half-byte-ish codes (argmin
    *      ||subvec − centroid||², via a broadcast join of the 256-row
    *      codebook — K·M dots per doc, the standard PQ encode cost).
    *      64 dims × 4 bytes → 16 bytes per doc: the index that fits in
    *      memory at corpus sizes where raw vectors cannot.
    *   3. SEARCH: per query, a 256-entry lookup table of subspace dots;
    *      approximate score = sum of 16 LUT lookups (a join on the CODE
    *      table only — the full vectors are never read). Top-50
    *      shortlist per query through the native bounded-heap operator.
    *   4. RERANK: exact cosine on the ≤50·|Q| shortlisted docs only.
    *
    * Codebook means are float-sum shuffle-order-dependent (like s3), so
    * the driver entry emits the recall INVARIANT vs the exact s1
    * baseline; over a (vec_id, unit) frame this returns the
    * exact-reranked top-5 per query with rank. [oracle: literal quality
    * contract]
    */
  private[ops] def pqTopK(unit: DataFrame): DataFrame = {
    // hash(vec_id)-partition the persisted training frame ONCE (r15,
    // guide §2.4 "share one exchange"): every Lloyd round's
    // groupBy(vec_id, sub), the final encode, and the ADC
    // groupBy(query_id, vec_id) all cluster on vec_id or a superset, so
    // they ride this exchange instead of re-shuffling the corpus per
    // round (3 rounds + encode + ADC = 5 corpus exchanges → 1). The
    // repartition runs BEFORE the ×16 explode so it moves one row per
    // doc, and explode/select/broadcast-join all preserve the
    // partitioning.
    val subvecs = subvectors(unit.repartition(col("vec_id")), "unit", Seq("vec_id"), "subvec")
      .persistTracked
    val (codebook, codes, corpusN) = trainPq(subvecs, rounds = 3)

    // per-query 256-entry LUT (10 queries × 16 subs × 16 codes)
    val lut = subvecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("sub"), col("subvec").as("qsubvec"))
      .join(codebook, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("qsubvec"), col("cvec")).as("partial"))

    // corpus-scaled rerank shortlist (d4's df-cap discipline, shared
    // with s9): 16-byte codes rank a 200k corpus too coarsely for a
    // flat 50 — the sf10 oracle sweep measured its recall contract red
    // there, while ~0.4% of the corpus surviving to exact rerank keeps
    // recall flat across decades at O(shortlist·|Q|) rerank cost.
    val nShort = math.max(50L, corpusN / 250).toInt
    val adc = codes.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("partial")).as("approx"))
    rerank(adc, "approx", nShort, unit)
  }

  /** s6's driver entry: runs the PQ pipeline and emits the
    * (n_queries, k, recall_ok) contract against the shared exact
    * baseline (computed once per JVM, reused by s3 and s9).
    */
  def s6_ann_pq(spark: SparkSession, dir: String): DataFrame =
    recallEntry(spark, dir, PqMinRecall)(pqTopK)

  /** Invariant oracle for s6: the literal quality contract. */
  val s6_oracle: String =
    """SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
      |       TRUE AS recall_ok""".stripMargin

  /** Minimum acceptable mean recall@5 of the IVF-PQ path against the
    * exact s1 baseline (nprobe=4 of 16 lists caps it near s3's recall;
    * pinned with the same headroom discipline as s3/s6).
    */
  val IvfPqMinRecall = 0.6

  /** The composed FAISS-shaped index: IVF coarse partitioning + product
    * quantization of the RESIDUALS (Jégou et al., TPAMI 2011 §IV —
    * "IVFADC") — what a 100 TB vector corpus actually deploys, because
    * the two approximations attack different costs: IVF prunes WHICH
    * docs are scored (each query touches ~nprobe/nlist of the corpus),
    * PQ shrinks WHAT is read per doc (16-byte codes instead of 256-byte
    * vectors). Pipeline:
    *
    *   1. coarse quantizer: s3's trained centroids (2 Lloyd rounds,
    *      O(centroids) driver state);
    *   2. residual encode: r = unit − centroid(cluster), PQ codebooks
    *      trained per subspace ON RESIDUALS ([[trainPq]], 2 rounds — the
    *      residual distribution is what PQ must capture; encoding raw
    *      vectors would waste codebook entropy re-describing the coarse
    *      cell);
    *   3. search: per (query, probed cluster) a 256-entry LUT over the
    *      query's RESIDUAL against that cell's centroid; approximate
    *      score = dot(q, centroid) + Σ_m LUT[m, code_m] — the ADC sum
    *      reconstructs dot(q, centroid + residual);
    *   4. a corpus-scaled shortlist (≥ 200 per query) via the native
    *      bounded heap, exact rerank.
    *
    * Like s3/s6, trained means are float-sum shuffle-order-dependent,
    * so the driver entry emits the recall INVARIANT vs the shared exact
    * baseline. [oracle: literal quality contract]
    */
  private[ops] def ivfpqTopK(unit: DataFrame): DataFrame = {
    val spark = unit.sparkSession
    import spark.implicits._

    val centroids = trainCoarseCentroids(unit, Nlist, 2)
    val centDfCoarse = broadcast(centroids.zipWithIndex.toSeq.map { case (c, i) =>
      (i, c.toSeq)
    }.toDF("cluster", "centroid"))

    // residual per doc within its coarse cell (one narrow pass).
    // hash(vec_id)-partitioned ONCE (r15, guide §2.4): the subvec frame
    // below inherits this partitioning through its explode, so both
    // Lloyd rounds' groupBy(vec_id, sub), the encode, and the ADC
    // groupBy(query_id, vec_id) ride this single exchange.
    val assigned = assignToCentroid(unit, centroids)
      .join(centDfCoarse, Seq("cluster"))
      .withColumn("resid", zip_with(col("unit"), col("centroid"), (a, b) => a - b))
      .select(col("vec_id"), col("cluster"), col("resid"))
      .repartition(col("vec_id"))
      .persistTracked
    val subvecs = subvectors(assigned, "resid", Seq("vec_id", "cluster"), "subvec")
      .persistTracked
    val (codebook, codes, corpusN) = trainPq(subvecs, rounds = 2, carry = Seq("cluster"))

    // query side: Nprobe probed cells; per (query, cell) a 256-entry LUT
    // (10 queries × 4 probes × 16 subs × 16 codes = 10 240 rows) plus
    // the constant dot(q, centroid) term. For INNER-PRODUCT scoring the
    // LUT pairs the QUERY's subvectors with the residual codewords:
    // dot(q, u) = dot(q, centroid) + dot(q, residual), so
    // approx = qbase + Σ_m dot(q_m, code_m) is exactly
    // dot(q, centroid + r̂) — quantization error only. (Pairing the
    // query RESIDUAL instead — the L2/IVFADC habit — injects a spurious
    // −dot(centroid, r̂) term that corrupts the ranking: measured
    // recall@5 at sf1 fell to 0.42; this formulation clears the
    // contract at every SF.)
    val qprobe = probedCells(unit, centroids)
      .join(centDfCoarse, Seq("cluster"))
      .withColumn("qbase", dot(col("qunit"), col("centroid")))
    val lut = subvectors(qprobe, "qunit", Seq("query_id", "cluster", "qbase"), "qsubvec")
      .join(codebook, Seq("sub"))
      .select(col("query_id"), col("cluster"), col("qbase"), col("sub"), col("code"),
        dot(col("qsubvec"), col("cvec")).as("partial"))

    // ADC over the probed cells' code lists only. The rerank shortlist
    // SCALES with the corpus (d4's df-cap discipline — a literal tuned
    // to one SF is a recall cliff at the next): residual norms are a
    // fraction of unit norms, so 16-byte residual codes separate
    // candidates less sharply than s6's whole-vector codes, and the
    // fraction of probed candidates that must survive to rerank is
    // roughly constant. max(200, n/250) ≈ 1.6% of the probed quarter of
    // the corpus: measured recall@5 = 0.8/0.92/1.0 at sf1/0.01/0.1 and
    // clears the 0.6 contract at sf10 (200k vectors), where a flat 200
    // measured 0.56. Rerank cost stays O(shortlist·|Q|) rows — driver
    // state is one count, never vectors.
    val nShort = math.max(200L, corpusN / 250).toInt
    val adc = codes.join(broadcast(lut), Seq("cluster", "sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg((first(col("qbase")) + sum(col("partial"))).as("approx"))
    rerank(adc, "approx", nShort, unit)
  }

  /** s9's driver entry: the IVF-PQ pipeline's recall contract against
    * the shared exact baseline.
    */
  def s9_ivfpq(spark: SparkSession, dir: String): DataFrame =
    recallEntry(spark, dir, IvfPqMinRecall)(ivfpqTopK)

  /** Invariant oracle for s9: the literal quality contract. */
  val s9_oracle: String =
    """SELECT CAST(10 AS BIGINT) AS n_queries, CAST(5 AS BIGINT) AS k,
      |       TRUE AS recall_ok""".stripMargin

  /** s7_hybrid_search — hybrid retrieval over a query SET (doc/vec ids
    * < 3, the real retrieval shape): a KEYWORD candidate list per query
    * (distinct-token overlap, posting-list bounded) and a VECTOR
    * candidate list per query (exact cosine, s1's pipeline) fused by
    * reciprocal-rank fusion — RRF(d) = Σ_lists 1/(60+rank_d), the
    * standard zero-tuning fusion for combining lexical and dense
    * retrieval. Emits each query's fused top-10 with both source ranks
    * (0 = absent from that list's top-20).
    *
    * Scale shape: the keyword side touches only documents sharing ≥1
    * query token (an inverted-index probe, never a corpus scan at
    * 100 TB — the broadcast join IS the posting-list intersection); the
    * vector side is one broadcast-query corpus scan (s1). BOTH top-20
    * cuts run through the native bounded-heap operator
    * (graft.plans.TopKPerGroup — partial per-partition heaps, the
    * shuffle carries ≤ 20·partitions rows per query), so no
    * corpus-sized input ever reaches a window: every row_number ranks a
    * ≤ 20-rows-per-query frame, partitioned by query_id. Ranking uses
    * ROUNDED scores with id tiebreaks so both engines order
    * identically. [oracle]
    */
  def s7_hybrid_search(spark: SparkSession, dir: String): DataFrame = {
    val nQ = 3
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val toks = docs.select(col("doc_id"),
      explode(expr(
        "array_distinct(filter(split(lower(text), '[^a-z]+'), t -> t != ''))")).as("tok"))
    val qtoks = broadcast(toks.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("query_id"), col("tok")))
    val kw = toks.join(qtoks, Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("kw_score"))
    val kwTop = graft.plans.TopKPerGroup.topKPerGroup(
      kw, Seq("query_id"), Seq(("kw_score", false), ("doc_id", true)), 20)
      .select(col("query_id"), col("doc_id").as("id"),
        col("kw_score").cast("double").as("score"))
    val unit = withUnit(Tables(spark, dir).embeddings)
    val scored = unit.join(broadcast(queryFrame(unit, nQ)), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine("cos"))
    val vecTop = graft.plans.TopKPerGroup.topKPerGroup(
      scored, Seq("query_id"), Seq(("cos", false), ("vec_id", true)), 20)
      .select(col("query_id"), col("vec_id").as("id"), col("cos").as("score"))
    rrfFuse(kwTop, vecTop, 10)
  }

  /** Reciprocal-rank fusion of two per-query candidate sets — the tail
    * of s7's pipeline, shared with the STREAMING hybrid index
    * ([[graft.streaming.CorpusStream.hybridSearchIndex]]) so batch and
    * streaming retrieval fuse with byte-identical arithmetic. Both
    * inputs are (query_id, id, score) ALREADY cut to ≤ k rows per query
    * (the bounded-heap cut), so every window here ranks a tiny
    * per-query frame — never corpus-sized input. Rank 0 = absent from
    * that side's list; ties break by id for engine-stable order.
    */
  def rrfFuse(kwTop: DataFrame, vecTop: DataFrame, topN: Int): DataFrame = {
    def ranked(df: DataFrame, rankName: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("score").desc, col("id").asc)
      df.withColumn("r", row_number().over(w).cast("long"))
        .select(col("query_id"), col("id"), col("r").as(rankName))
    }
    val kwRank = ranked(kwTop, "kw_rank")
    val vecRank = ranked(vecTop, "vec_rank")
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf").desc, col("id").asc)
    kwRank.join(vecRank, Seq("query_id", "id"), "full_outer")
      .select(col("query_id"), col("id"),
        coalesce(col("kw_rank"), lit(0L)).as("kw_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rrf", round(
        when(col("kw_rank") > 0, lit(1.0) / (col("kw_rank") + 60)).otherwise(lit(0.0)) +
        when(col("vec_rank") > 0, lit(1.0) / (col("vec_rank") + 60)).otherwise(lit(0.0)),
        6))
      .withColumn("fused_rank", row_number().over(wf).cast("long"))
      .filter(col("fused_rank") <= topN)
      .orderBy("query_id", "fused_rank")
  }

  /** DuckDB mirror of s7: same tokenize→overlap→rank, same
    * normalize→dot→round→rank, same RRF arithmetic — per query in the
    * 3-query set (every rank PARTITION BY query_id).
    */
  val s7_oracle: String =
    """WITH qt AS (
      |  SELECT DISTINCT query_id, tok FROM (
      |    SELECT doc_id AS query_id,
      |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
      |    FROM documents WHERE doc_id < 3) WHERE tok <> ''),
      |dt AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
      |    FROM documents) WHERE tok <> ''),
      |kw AS (
      |  SELECT query_id, doc_id, COUNT(*) AS kw_score
      |  FROM dt JOIN qt USING (tok) WHERE doc_id <> query_id
      |  GROUP BY query_id, doc_id),
      |kwr AS (
      |  SELECT query_id, id, kw_rank FROM (
      |    SELECT query_id, doc_id AS id, CAST(row_number() OVER (
      |      PARTITION BY query_id
      |      ORDER BY kw_score DESC, doc_id ASC) AS BIGINT) AS kw_rank
      |    FROM kw) WHERE kw_rank <= 20),
      |v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id,
      |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
      |  FROM v),
      |q AS (SELECT vec_id AS query_id, unit AS qunit FROM u WHERE vec_id < 3),
      |sc AS (
      |  SELECT q.query_id, c.vec_id, round(list_dot_product(q.qunit, c.unit), 6) AS cos
      |  FROM u c, q WHERE c.vec_id <> q.query_id),
      |vr AS (
      |  SELECT query_id, id, vec_rank FROM (
      |    SELECT query_id, vec_id AS id, CAST(row_number() OVER (
      |      PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS vec_rank
      |    FROM sc) WHERE vec_rank <= 20),
      |fused AS (
      |  SELECT COALESCE(kwr.query_id, vr.query_id) AS query_id,
      |    COALESCE(kwr.id, vr.id) AS id,
      |    COALESCE(kw_rank, 0) AS kw_rank,
      |    COALESCE(vec_rank, 0) AS vec_rank
      |  FROM kwr FULL OUTER JOIN vr
      |    ON kwr.query_id = vr.query_id AND kwr.id = vr.id),
      |rrfed AS (
      |  SELECT query_id, id, kw_rank, vec_rank,
      |    round(CASE WHEN kw_rank > 0 THEN 1.0 / (kw_rank + 60) ELSE 0 END +
      |          CASE WHEN vec_rank > 0 THEN 1.0 / (vec_rank + 60) ELSE 0 END,
      |          6) AS rrf
      |  FROM fused)
      |SELECT query_id, id, kw_rank, vec_rank, rrf, fused_rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, id ASC) AS BIGINT)
      |    AS fused_rank FROM rrfed)
      |WHERE fused_rank <= 10 ORDER BY query_id, fused_rank""".stripMargin

  /** s8_bm25 — BM25 lexical retrieval (Robertson/Spärck Jones, the
    * default first-stage ranker everywhere RRF fuses something): per
    * query, score = Σ_terms idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with the standard k1=1.2, b=0.75, fused-rank top-10 per query over
    * s7's query set. Both factors are kept RATIONAL in fixed-point longs
    * — idf's log is replaced by its monotone rational argument
    * (2(N−df)+1)/(2df+1) scaled ×10⁶ (order-isomorphic per term, and
    * like log-idf it drives frequent-term contributions toward zero),
    * and the tf saturation term is cross-multiplied by 20·avgdl so the
    * whole score is integer arithmetic — bit-identical in any engine,
    * like t12's rational idf. All divisions are non-negative (Spark
    * `div` truncates, DuckDB `//` floors; they agree only there).
    *
    * Scale shape: the tokenize+explode scan joins the BROADCAST query
    * vocabulary first — the join IS the posting-list probe, so tf/df
    * aggregation touches only documents sharing a query term, never the
    * corpus (s7's discipline). Corpus stats (N, total tokens) are one
    * 1-row aggregate; dl rides the explode so no corpus-sized dl join.
    * Top-10 per query runs through the native bounded-heap operator.
    * [oracle]
    */
  def s8_bm25(spark: SparkSession, dir: String): DataFrame = {
    val nQ = 3
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val withToks = docs.select(col("doc_id"),
      expr("filter(split(lower(text), '[^a-z]+'), t -> t != '')").as("toks"))
    val toks = withToks
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("tok"))
    val qtoks = broadcast(toks.filter(col("doc_id") < nQ)
      .select(col("doc_id").as("query_id"), col("tok")).distinct())
    // r15 restructure (guide §2.3 "shuffle fewer bytes" + §2.4): probe
    // the posting lists with the distinct query VOCABULARY — no
    // per-query row duplication — and aggregate (tok, doc) occurrence
    // counts ONCE on a single hash(tok) exchange. tf for (query, doc,
    // tok) never depended on the query (it is the term's occurrence
    // count in the doc), so the old per-query tf aggregate recomputed
    // the same counts |queries-sharing-the-term| times and shuffled the
    // duplicates; df rides the same exchange (occ is (tok, doc)-unique,
    // so its per-tok count IS the distinct-doc count, replacing the old
    // distinct + count pair of exchanges). Query ids re-attach by
    // broadcast afterwards.
    val qterms = broadcast(qtoks.select("tok").distinct())
    // persisted: both the broadcast df build and the scoring path read
    // occ, and without the persist each would re-run the probe join and
    // its exchange
    val occ = toks.join(qterms, Seq("tok"))
      .repartition(col("tok"))
      .groupBy("tok", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .persistTracked
    val dfT = occ.groupBy("tok").agg(count(lit(1)).as("df"))
    val tfT = occ.join(qtoks, Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
    val stats = withToks.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L)).as("a_tokens"))
    val scored = tfT
      .join(broadcast(dfT), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_fp",
        expr("(1000000 * (2 * (n_docs - df) + 1)) div (2 * df + 1)"))
      .withColumn("tfc_fp", expr(
        "(100000 * 44 * a_tokens * tf) div " +
          "(20 * a_tokens * tf + 6 * a_tokens + 18 * dl * n_docs)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(expr("idf_fp * tfc_fp div 100000")).cast("long").as("score_fp"))
    graft.plans.TopKPerGroup
      .topKPerGroup(scored, Seq("query_id"), Seq(("score_fp", false), ("doc_id", true)), 10)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score_fp").desc, col("doc_id").asc)).cast("long"))
      .select("query_id", "rank", "doc_id", "score_fp")
      .orderBy("query_id", "rank")
  }

  val s8_oracle: String =
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
      |    FROM documents) WHERE tok <> ''),
      |dl_t AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
      |qt AS (SELECT DISTINCT doc_id AS query_id, tok FROM toks WHERE doc_id < 3),
      |matches AS (
      |  SELECT q.query_id, t.doc_id, t.tok FROM toks t JOIN qt q USING (tok)),
      |df_t AS (
      |  SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM matches GROUP BY tok),
      |tf_t AS (
      |  SELECT query_id, doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM matches WHERE doc_id <> query_id GROUP BY 1, 2, 3),
      |stats AS (
      |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
      |         (SELECT CAST(COALESCE(SUM(dl), 0) AS BIGINT) FROM dl_t) AS a_tokens),
      |scored AS (
      |  SELECT query_id, doc_id, CAST(SUM(
      |    ((1000000 * (2 * (n_docs - df) + 1)) // (2 * df + 1))
      |      * ((100000 * 44 * a_tokens * tf) //
      |         (20 * a_tokens * tf + 6 * a_tokens + 18 * dl * n_docs))
      |      // 100000) AS BIGINT) AS score_fp
      |  FROM tf_t JOIN df_t USING (tok) JOIN dl_t USING (doc_id) CROSS JOIN stats
      |  GROUP BY query_id, doc_id)
      |SELECT query_id, rank, doc_id, score_fp FROM (
      |  SELECT query_id, doc_id, score_fp, CAST(row_number() OVER (
      |    PARTITION BY query_id ORDER BY score_fp DESC, doc_id ASC) AS BIGINT) AS rank
      |  FROM scored)
      |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** s10_ann_sq — SYMMETRIC int8 scalar quantization (the faiss
    * `SQ8`-direct shape): every unit-vector coordinate compresses to
    * `round(x·127) ∈ [−127, 127]`, so the 512-byte double vector
    * becomes a 64-value integer code — the cheapest compressed index
    * there is (no training, no codebooks), sitting between s1 (exact,
    * full reads) and s6/s9 (trained PQ codes) in the accuracy/cost
    * lattice. Scoring is the INTEGER inner product of code vectors
    * (|Σ q·c| ≤ 64·127² < 2²⁰ — exactly representable, so the fold is
    * order-independent and bit-identical in any engine); the top
    * `max(50, n/250)` per query (s9's corpus-scaled shortlist
    * discipline) survive to an exact-cosine rerank.
    *
    * Unlike s3/s6/s9 there is no shuffle-order-dependent training
    * anywhere, so the WHOLE path — codes, integer scores, shortlist,
    * rerank — is deterministic and the entry is fully hash-checked
    * against DuckDB (s1's discipline), not a recall contract.
    *
    * Scale shape: the code map is narrow; scoring reads 64 small ints
    * per doc instead of 64 doubles (4–8× less per candidate, and at
    * 100 TB the code table is the only thing the scan touches);
    * queries broadcast; both cuts run through the native bounded heap;
    * the rerank joins the ≤ shortlist·|Q| survivors back to the full
    * vectors — a broadcast-right join against one corpus scan. [oracle]
    */
  def s10_ann_sq(spark: SparkSession, dir: String): DataFrame = {
    val unit = unitFrame(spark, dir)
    // integer-valued double codes: products/sums stay exact in double,
    // and the native codegen'd dot expression scores them directly
    val codes = unit.select(col("vec_id"),
      expr("transform(unit, x -> round(x * 127))").as("codes"))
    val qcodes = broadcast(codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes")))
    val scored = codes.join(qcodes, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dot(col("qcodes"), col("codes")).cast("long").as("qscore"))
    rerank(scored, "qscore", math.max(50L, unit.count() / 250).toInt, unit)
  }

  /** DuckDB mirror of s10: same codes (round is away-from-zero on
    * doubles in both engines), same integer scores, same corpus-scaled
    * shortlist, same exact rerank — byte-for-byte.
    */
  val s10_oracle: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id,
      |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
      |  FROM v),
      |c AS (
      |  SELECT vec_id, unit, list_transform(unit, x -> round(x * 127)) AS codes
      |  FROM u),
      |scored AS (
      |  SELECT q.vec_id AS query_id, d.vec_id,
      |    CAST(list_dot_product(q.codes, d.codes) AS BIGINT) AS qscore
      |  FROM c q JOIN c d ON d.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10),
      |short AS (
      |  SELECT query_id, vec_id FROM (
      |    SELECT query_id, vec_id, row_number() OVER (
      |      PARTITION BY query_id ORDER BY qscore DESC, vec_id ASC) AS rn
      |    FROM scored)
      |  WHERE rn <= GREATEST(50, (SELECT COUNT(*) FROM embeddings) // 250)),
      |rr AS (
      |  SELECT s.query_id, s.vec_id AS neighbor_id,
      |    round(list_dot_product(q.unit, d.unit), 6) AS cosine
      |  FROM short s
      |  JOIN c d ON d.vec_id = s.vec_id
      |  JOIN c q ON q.vec_id = s.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine, CAST(row_number() OVER (
      |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM rr)
      |SELECT query_id, neighbor_id, cosine, rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- s11

  private val MmrShortlist = 20
  private val MmrK = 5

  /** s11_mmr — Maximal Marginal Relevance diversified re-rank: the
    * post-retrieval pass that trades raw relevance for coverage
    * (Carbonell & Goldstein 1998). Per query, an exact top-20 shortlist
    * is greedily re-ranked for 5 steps: step t picks
    * argmax_c λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s), λ = 0.7.
    * All scores are fixed-point integers (round(cos·10⁶), λ scaled to
    * 7/3), so the greedy's argmax — inherently order-sensitive — is a
    * pure integer recurrence with a cand_id tiebreak, identical in any
    * engine.
    *
    * Scale shape: the corpus is touched exactly once (s1's broadcast-
    * query scan + native bounded-heap top-20); everything after runs on
    * shortlist² = 380 pair rows per query. The greedy is sequential BY
    * DEFINITION, so it runs inside flatMapGroups with strictly bounded
    * per-group state (≤ shortlist² rows ≈ 3 KB) — queries parallelize,
    * steps don't. [oracle]
    */
  def s11_mmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val unit = withUnit(Tables(spark, dir).embeddings)
      .select(col("vec_id"), col("unit"))
    val scored = unit.join(broadcast(queryFrame(unit, 10)), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"), col("unit"),
        round(dot(col("qunit"), col("unit")) * 1e6).cast("long").as("rel6"))
    val shortlist = graft.plans.TopKPerGroup
      .topKPerGroup(scored, Seq("query_id"),
        Seq(("rel6", false), ("cand_id", true)), MmrShortlist)
      .persistTracked
    val pairs = shortlist.as("a").join(shortlist.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.query_id"), col("a.cand_id").as("ca"),
        col("b.cand_id").as("cb"),
        round(dot(col("a.unit"), col("b.unit")) * 1e6).cast("long").as("sim6"),
        col("a.rel6"))
      .as[(Long, Long, Long, Long, Long)]
    pairs.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // bounded group: ≤ MmrShortlist·(MmrShortlist−1) pair rows per query
      val rel = scala.collection.mutable.Map.empty[Long, Long]
      val sim = scala.collection.mutable.Map.empty[(Long, Long), Long]
      it.foreach { case (_, a, b, s6, r6) => rel(a) = r6; sim((a, b)) = s6 }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      var step = 1
      while (step <= math.min(MmrK, rel.size)) {
        val best = rel.keysIterator.filterNot(selected.contains).map { c =>
          val score =
            if (selected.isEmpty) 7L * rel(c)
            else 7L * rel(c) - 3L * selected.iterator.map(s => sim((c, s))).max
          (c, score)
        }.reduceLeft((x, y) =>
          if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
        selected += best._1
        out += ((qid, step.toLong, best._1, best._2))
        step += 1
      }
      out.iterator
    }.toDF("query_id", "step", "cand_id", "mmr6")
      .orderBy("query_id", "step")
  }

  /** DuckDB mirror of s11: the 5 greedy steps UNROLLED into chained
    * CTEs (each step = anti-join selected, max-sim aggregate, window
    * argmax) — no recursion, same integer arithmetic, same tiebreaks.
    *
    * Every stage is AS MATERIALIZED and the exact scan is bounded ON
    * PURPOSE: each selu_k references selu_{k-1} twice (the step join
    * and the UNION), so un-materialized CTE inlining re-evaluates the
    * whole upstream chain 2^k times — at sf10 that exact-scan blowup
    * exhausted the verify container. The scored pass is also kept
    * NARROW (ids + rel6 only; unit vectors join back onto the ≤20·|q|
    * shortlist rows afterwards) so the per-query window never sorts
    * list-carrying rows.
    */
  lazy val s11_oracle: String = {
    val steps = (2 to MmrK).map { k =>
      s"""sel$k AS MATERIALIZED (
         |  SELECT query_id, $k AS step, cand_id, mmr6 FROM (
         |    SELECT x.query_id, x.cand_id, x.mmr6, row_number() OVER (
         |      PARTITION BY x.query_id ORDER BY x.mmr6 DESC, x.cand_id ASC) AS rn
         |    FROM (
         |      SELECT r.query_id, r.cand_id, 7 * r.rel6 - 3 * MAX(p.sim6) AS mmr6
         |      FROM shortlist r
         |      JOIN selu${k - 1} s ON s.query_id = r.query_id
         |      JOIN psim p ON p.query_id = r.query_id AND p.ca = r.cand_id
         |        AND p.cb = s.cand_id
         |      WHERE NOT EXISTS (SELECT 1 FROM selu${k - 1} z
         |        WHERE z.query_id = r.query_id AND z.cand_id = r.cand_id)
         |      GROUP BY r.query_id, r.cand_id, r.rel6) x) WHERE rn = 1),
         |selu$k AS MATERIALIZED (
         |  SELECT * FROM selu${k - 1} UNION ALL SELECT * FROM sel$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
       |  FROM embeddings),
       |u AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
       |  FROM v),
       |q AS (SELECT vec_id AS query_id, unit AS qunit FROM u WHERE vec_id < 10),
       |shortids AS MATERIALIZED (
       |  SELECT query_id, cand_id, rel6 FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rel6 DESC, cand_id ASC) AS rn
       |    FROM (
       |      SELECT q.query_id, c.vec_id AS cand_id,
       |        CAST(round(list_dot_product(q.qunit, c.unit) * 1000000) AS BIGINT) AS rel6
       |      FROM q JOIN u c ON c.vec_id <> q.query_id))
       |  WHERE rn <= $MmrShortlist),
       |shortlist AS MATERIALIZED (
       |  SELECT s.query_id, s.cand_id, c.unit, s.rel6
       |  FROM shortids s JOIN u c ON c.vec_id = s.cand_id),
       |psim AS MATERIALIZED (
       |  SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
       |    CAST(round(list_dot_product(a.unit, b.unit) * 1000000) AS BIGINT) AS sim6
       |  FROM shortlist a JOIN shortlist b
       |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, 1 AS step, cand_id, 7 * rel6 AS mmr6 FROM (
       |    SELECT query_id, cand_id, rel6, row_number() OVER (
       |      PARTITION BY query_id ORDER BY rel6 DESC, cand_id ASC) AS rn
       |    FROM shortlist) WHERE rn = 1),
       |selu1 AS MATERIALIZED (SELECT * FROM sel1),
       |$steps
       |SELECT query_id, CAST(step AS BIGINT) AS step, cand_id, mmr6
       |FROM selu$MmrK ORDER BY query_id, step""".stripMargin
  }

  // ---------------------------------------------------------------- s12

  private val RangeTau = 0.25

  /** s12_range_search — RADIUS search (FAISS `range_search` parity):
    * every neighbor whose cosine to the query reaches τ = 0.25, not a
    * fixed k — the retrieval mode dedup-adjacent pipelines use when the
    * question is "everything this similar", where k-NN either truncates
    * dense neighborhoods or pads sparse ones. Result size is
    * data-dependent, so the contract is EXACTNESS of the membership set
    * (cosines rounded to 1e-6 for cross-engine float stability).
    *
    * Scale shape: s1's discipline — the query side broadcasts, the
    * corpus is scanned exactly once, the τ filter runs inside the scan
    * projection, and no shuffle exists at all (unlike top-k there is no
    * global heap to merge: the predicate is per-row). The LSH-bucketed
    * scale path for huge query sets is s2/s5; this is the exact
    * baseline those approximations are graded against. [oracle]
    */
  def s12_range_search(spark: SparkSession, dir: String): DataFrame = {
    val unit = withUnit(Tables(spark, dir).embeddings)
      .select(col("vec_id"), col("unit"))
    scoreNeighbors(unit.join(broadcast(queryFrame(unit, 10)), col("vec_id") =!= col("query_id")))
      .filter(col("cosine") >= RangeTau)
      .orderBy("query_id", "neighbor_id")
  }

  /** DuckDB mirror of s12: same unit-normalization, rounding, and τ. */
  val s12_oracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
       |  FROM v),
       |q AS (SELECT vec_id AS query_id, unit AS qunit FROM u WHERE vec_id < 10)
       |SELECT q.query_id, c.vec_id AS neighbor_id,
       |  round(list_dot_product(q.qunit, c.unit), 6) AS cosine
       |FROM q JOIN u c ON c.vec_id <> q.query_id
       |WHERE round(list_dot_product(q.qunit, c.unit), 6) >= $RangeTau
       |ORDER BY q.query_id, c.vec_id""".stripMargin

  /** s13_filtered_ann — metadata-filtered vector search (the vector-DB
    * `filter:` clause; FAISS IDSelector / Milvus-Qdrant attribute
    * filtering): top-5 cosine neighbors among only the corpus vectors
    * whose `label` matches the query's — a PRE-filter, applied before
    * ranking, so the contract is "the best k of the matching subset",
    * not "the matching subset of the best k" (post-filter top-k returns
    * fewer than k rows whenever the filter is selective; this never
    * does, which is why production filtered search pre-filters).
    *
    * Scale shape: the label predicate rides the same one-pass corpus
    * scan s1 uses — it lands in the broadcast-join condition, so a
    * non-matching row dies at the probe without being scored, and with
    * a label-partitioned/bucketed corpus layout it prunes entire files.
    * k-selection through the native bounded heap; no post-hoc filter of
    * a larger result. [oracle]
    */
  def s13_filtered_ann(spark: SparkSession, dir: String): DataFrame = {
    val unit = withUnit(Tables(spark, dir).embeddings)
      .select(col("vec_id"), col("label"), col("unit"))
    // the select keeps the broadcast side's (query_id, qlabel, qunit) order
    val q = broadcast(queryFrame(unit, 10, col("label").as("qlabel"))
      .select("query_id", "qlabel", "qunit"))
    val scored = unit.join(q,
        col("vec_id") =!= col("query_id") && col("label") === col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("label"), cosine())
    topKPerQuery(scored, 5)
  }

  /** DuckDB mirror of s13: same normalize→label-prefilter→dot→rank. */
  val s13_oracle: String =
    """WITH v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, label,
      |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
      |  FROM v),
      |q AS (SELECT vec_id AS query_id, label AS qlabel, unit AS qunit
      |      FROM u WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, c.vec_id AS neighbor_id,
      |    CAST(c.label AS BIGINT) AS label,
      |    round(list_dot_product(q.qunit, c.unit), 6) AS cosine
      |  FROM q JOIN u c ON c.vec_id <> q.query_id AND c.label = q.qlabel),
      |ranked AS (
      |  SELECT query_id, neighbor_id, label, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, label, cosine, rank
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** s14_recall_eval — the ANN index-quality report: recall@5 of the
    * LSH-bucketed index (s2) against the exact scan (s1), per query, in
    * integer basis points. This is the operator an index DEPLOYMENT
    * needs — the recall contract s3/s6/s9 carry as a spec invariant,
    * turned into a first-class queryable report (run it after building
    * an index, gate the rollout on the floor). Hit counting is an
    * integer intersection of two ≤ k·|Q| result sets, so unlike the
    * trained indexes the whole report is hash-exact cross-engine.
    *
    * Scale shape: both retrieval legs keep their own disciplines (s1
    * one-scan broadcast probe, s2 bucket probe); the join/aggregate
    * that follows sees only the ≤ k·|Q| ranked survivors. [oracle]
    */
  def s14_recall_eval(spark: SparkSession, dir: String): DataFrame = {
    val exact = s1_ann_topk(spark, dir).select("query_id", "neighbor_id")
    val lsh = s2_ann_lsh(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .withColumn("recall_bp", expr("n_hits * 10000L DIV n_exact"))
      .orderBy("query_id")
  }

  /** DuckDB mirror of s14: both component oracles as CTEs + the same
    * integer intersection count.
    */
  lazy val s14_oracle: String =
    s"""WITH e AS ($s1_oracle),
       |l AS ($s2_oracle)
       |SELECT e.query_id, COUNT(*) AS n_exact,
       |  CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) * 10000 // COUNT(*) AS recall_bp
       |FROM e LEFT JOIN l
       |  ON l.query_id = e.query_id AND l.neighbor_id = e.neighbor_id
       |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin

  // ---------------------------------------------------------------- s15

  private val KnnK = 3

  /** s15_knn_join — corpus-internal kNN-GRAPH construction: every
    * vector's top-3 nearest bucketmates by exact cosine, via the
    * hyperplane-LSH candidate generator d5/d8 share. The kNN graph is
    * the substrate of graph-based curation (SemDeDup's cluster step,
    * density/novelty scoring, graph-connectivity pruning) — d5 finds
    * the closest PAIRS corpus-wide, s15 gives EVERY doc its
    * neighborhood. Vectors in dropped buckets (singletons or above the
    * skew cap) have no rows — the same admission contract as d5, stated
    * rather than hidden.
    *
    * Scale shape: one normalize+bucket pass (persisted), bucket-local
    * directed candidates only — rows × avg-bucket-size, never corpus² —
    * and the per-vector top-3 cut runs on the native bounded-heap
    * TopKPerGroup operator (one partial+final pass, no global sort, no
    * rank window materializing every candidate). [oracle]
    */
  def s15_knn_join(spark: SparkSession, dir: String): DataFrame = {
    val unit = withUnit(Tables(spark, dir).embeddings)
    val bucketed = withHyperplaneBucket(unit, planes = 8, seed = 7L)
      .persistTracked
    val wB = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
    val members = bucketed
      .withColumn("_bcnt", count(lit(1)).over(wB))
      .filter(col("_bcnt").between(2, graft.ops.Dedup.EmbedMaxBucket))
      .drop("_bcnt")
    val cands = members.as("l")
      .join(members.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.vec_id") =!= col("r.vec_id"))
      .select(
        col("l.vec_id").as("vec_id"), col("r.vec_id").as("neighbor"),
        round(dot(col("l.unit"), col("r.unit")), 6).as("cosine"))
    graft.plans.TopKPerGroup
      .topKPerGroup(cands, Seq("vec_id"),
        Seq(("cosine", false), ("neighbor", true)), KnnK)
      .orderBy(col("vec_id").asc, col("cosine").desc, col("neighbor").asc)
  }

  /** DuckDB mirror of s15: identical buckets and admission window,
    * directed candidates, QUALIFY top-3 with the same tiebreak.
    */
  lazy val s15_oracle: String =
    s"""WITH v AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vecd
       |  FROM embeddings),
       |u AS (
       |  SELECT vec_id,
       |    list_transform(vecd, x -> x / sqrt(list_dot_product(vecd, vecd))) AS unit
       |  FROM v),
       |b AS (
       |  SELECT vec_id, unit, ${bucketSql(8, 7L, "unit")} AS bucket FROM u),
       |ok AS (
       |  SELECT bucket FROM b GROUP BY bucket
       |  HAVING COUNT(*) BETWEEN 2 AND ${graft.ops.Dedup.EmbedMaxBucket}),
       |m AS (SELECT b.* FROM b JOIN ok USING (bucket))
       |SELECT l.vec_id AS vec_id, r.vec_id AS neighbor,
       |  round(list_dot_product(l.unit, r.unit), 6) AS cosine
       |FROM m l JOIN m r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
       |QUALIFY row_number() OVER (PARTITION BY l.vec_id
       |  ORDER BY cosine DESC, neighbor ASC) <= $KnnK
       |ORDER BY l.vec_id ASC, cosine DESC, neighbor ASC""".stripMargin
}
