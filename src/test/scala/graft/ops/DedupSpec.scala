package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The dedup family: planted-corpus and testdata contracts per entry,
  * the component labelers, and the boundaries of the one candidate-pair
  * kernel ([[Dedup.bucketPairs]]) that d2/d4/d7/d9/d13/d14 share.
  */
class DedupSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit =
    spark.createDataFrame(rows.map { case (id, text) =>
      (id, text, "en", "s", text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  /** Write a tiny corpus with planted near-dups as a documents dir. */
  private lazy val plantedDir: String = {
    import spark.implicits._
    val base = "spark group query row data slow small filter customer line the batch value merge extra words here"
    val nearDup = base.replace("slow", "fast") // 1-token edit
    val other = "completely different words nothing shared at all zebra yak xylophone quartz jolt"
    val docs = Seq(
      (100L, base, "en", "s", 1L),
      (101L, nearDup, "en", "s", 1L),
      (102L, other, "en", "s", 1L),
      (103L, base, "en", "s", 1L) // exact dup of 100
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("dedup_").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("d1_dedup_exact groups identical texts") {
    val out = Dedup.d1_dedup_exact(spark, plantedDir).collect()
    assert(out.length == 3)
    val dupRow = out.find(_.getAs[Long]("keep_id") == 100L).get
    assert(dupRow.getAs[Long]("dup_count") == 2)
  }

  test("d2_dedup_minhash finds planted near-dup pair, not unrelated docs") {
    val pairs = Dedup.d2_dedup_minhash(spark, plantedDir)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((100L, 101L)) || pairs.contains((100L, 103L)))
    assert(!pairs.exists(p => p._1 == 102L || p._2 == 102L))
  }

  test("d2 on testdata finds the generator's planted near-dups") {
    val out = Dedup.d2_dedup_minhash(spark, sfDir)
    assert(out.count() > 0)
    assert(out.agg(min("jaccard")).collect().head.getDouble(0) >= 0.7)
  }

  test("d3_dedup_simhash: near-identical docs collide, hamming small") {
    val out = Dedup.d3_dedup_simhash(spark, plantedDir).collect()
    val pairs = out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((100L, 103L))) // exact dup → hamming 0
    val exact = out.find(r => r.getAs[Long]("id_a") == 100L && r.getAs[Long]("id_b") == 103L).get
    assert(exact.getAs[Long]("hamming") == 0L)
  }

  test("d4_ngram_jaccard ranks candidates by exact jaccard") {
    val out = Dedup.d4_ngram_jaccard(spark, sfDir).collect()
    assert(out.nonEmpty)
    val j = out.map(_.getAs[Double]("jaccard"))
    assert(j.sameElements(j.sortBy(-_: Double)), "descending jaccard order")
  }

  test("d6_dedup_clusters: chained near-dups collapse into one cluster with one keeper") {
    val out = Dedup.d6_dedup_clusters(spark, plantedDir).collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    // 100, 101 (1-token edit) and 103 (exact copy of 100) chain into one cluster
    assert(byDoc(100L)._1 == 100L && byDoc(100L)._2)
    assert(byDoc(101L)._1 == 100L && !byDoc(101L)._2)
    assert(byDoc(103L)._1 == 100L && !byDoc(103L)._2)
    assert(!byDoc.contains(102L), "unrelated doc has no near-dup edges")
  }

  test("d5_embed_dup emits top cosine pairs from LSH buckets") {
    val out = Dedup.d5_embed_dup(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= 100)
    assert(out.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0001))
  }

  test("d5 skew guard: a degenerate bucket is dropped, small buckets survive") {
    import spark.implicits._
    val e0 = Array.tabulate(64)(i => if (i == 0) 1f else 0f)
    val neg = e0.map(-_)
    // 2 vectors in one small bucket + 600 identical vectors that all land
    // in a single degenerate bucket (the exact shape the cap exists for)
    val df = (Seq(1L -> e0, 2L -> e0) ++ (100L until 700L).map(_ -> neg))
      .toDF("vec_id", "embedding")
    val guarded = Dedup
      .embedNearDupPairs(df, planes = 8, seed = 7L, maxBucket = 500, topN = 5000)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(guarded == Set((1L, 2L)),
      s"degenerate bucket must be pruned, small bucket kept; got $guarded")
    // same data without the cap: the quadratic pair set reappears —
    // proving it is the guard doing the pruning, not the bucketing
    val unguarded = Dedup
      .embedNearDupPairs(df, planes = 8, seed = 7L, maxBucket = 1000000, topN = 5000)
      .count()
    assert(unguarded > 1000)
  }

  /** The path graph 0-1-…-n with one edge per partition, so no partition's
    * union-find seed joins more than one edge and propagation has to walk
    * the whole chain.
    */
  private def spreadChain(n: Long): DataFrame = {
    import spark.implicits._
    val edges = (0L until n).map(i => (i, i + 1))
    spark.sparkContext.parallelize(edges, edges.size).toDF("id_a", "id_b")
  }

  test("d6/components: a >12-hop chain reports non-convergence, not wrong labels") {
    // path graph 0-1-2-…-20: min-label needs 20 rounds to reach the tail
    val chain = spreadChain(20L)
    val capped = Dedup.propagate(chain, maxRounds = 6, checkpointDir = None)
    assert(!capped.converged && capped.rounds == 6)
    val full = Dedup.propagate(chain, maxRounds = 25, checkpointDir = None)
    assert(full.converged && full.rounds <= 25)
    assert(full.labels.filter(col("label") =!= 0L).count() == 0,
      "fully propagated chain collapses to the minimum label")
  }

  test("d6/components: the union-find seed labels a chain held in one partition before round 1") {
    val chain = spreadChain(20L).coalesce(1)
    val res = Dedup.components(chain, maxRounds = 6)
    assert(res.converged && res.rounds == 1, s"rounds = ${res.rounds}")
    assert(res.labels.filter(col("label") =!= 0L).count() == 0)
    assert(res.labels.count() == 21)
  }

  test("d6/components star step: logarithmic rounds collapse a chain far past the label-prop cap") {
    import spark.implicits._
    // path graph 0-1-…-60: label propagation needs 60 rounds (diameter);
    // star contraction is logarithmic in component SIZE, not diameter
    val chain = spreadChain(60L)
    val star = Dedup.starContraction(chain, checkpointDir = None, maxRounds = 20)
    assert(star.converged, s"star contraction should converge, took ${star.rounds} rounds")
    assert(star.rounds <= 12, s"rounds should be logarithmic, got ${star.rounds}")
    assert(star.labels.filter(col("label") =!= 0L).count() == 0,
      "every chain node labels to the component minimum")
    assert(star.labels.count() == 61)
    // multiple components + a cycle: same labels as min-label propagation
    val mixed = Seq((5L, 6L), (6L, 7L), (7L, 5L), (10L, 11L), (3L, 9L)).toDF("id_a", "id_b")
    val res = Dedup.starContraction(mixed, checkpointDir = None)
    assert(res.converged)
    val labels = res.labels.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
    assert(labels == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L, 3L -> 3L, 9L -> 3L))
  }

  test("d6/components escalates a wide component from label-prop to star contraction") {
    val chain = spreadChain(60L)
    // propagation cap of 6 cannot close a 60-hop chain → star takes over
    val res = Dedup.components(chain, maxRounds = 6)
    assert(res.converged)
    assert(res.labels.filter(col("label") =!= 0L).count() == 0)
  }

  test("components with a reliable checkpoint dir propagates identically") {
    import spark.implicits._
    val pairs = Seq((5L, 6L), (6L, 7L), (10L, 11L)).toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val res = Dedup.components(pairs, maxRounds = 12, checkpointDir = Some(dir))
    assert(res.converged)
    val labels = res.labels.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("label")).toMap
    assert(labels == Map(5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("shingles: the native loop equals the lambda form on edge strings and the testdata corpus") {
    import spark.implicits._
    val lambda = expr(
      """array_distinct(CASE WHEN size(toks) >= 2 THEN
        |  transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1]))
        |ELSE array(concat_ws(' ', toks)) END)""".stripMargin)
    def both(texts: DataFrame): DataFrame =
      texts.withColumn("toks", expr(TextOps.TOKENS))
        .select(col("doc_id"), col("text"), lambda.as("lambda"),
          graft.functions.HashExpressions.shingles(col("text")).as("native"))
    val edge = Seq[String](null, "", " ", "a", " a ", "a  b", "a b a b",
      "  x y  x y z ", "é ü é ü").zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val docs = graft.Tables(spark, sfDir).documents.select("doc_id", "text")
    Seq(edge, docs).foreach { texts =>
      val rows = both(texts)
      // both evaluation paths: generated code and the interpreted eval
      val diff = rows.filter(not(col("lambda") <=> col("native"))).count()
      assert(diff == 0, s"$diff documents shingle differently")
      rows.collect().foreach { r =>
        val expected = r.getSeq[String](2)
        val eval = graft.functions.GraftShingles.bigrams(
          org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
        assert(eval.toSeq[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString) == expected, r)
      }
    }
    assert(both(edge).filter(col("doc_id") === 0L).head().getSeq[String](3) == Seq(""),
      "null text shingles to one empty string, as the lambda form does")
  }

  // ------------------------------------------------------ bucketPairs

  /** A (doc_id, k) frame: one bucket per key, its members the listed ids. */
  private def buckets(members: (String, Seq[Long])*): DataFrame = {
    import spark.implicits._
    members.flatMap { case (k, ids) => ids.map(id => (id, k)) }.toDF("doc_id", "k")
  }

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSeq

  test("bucketPairs: a bucket of exactly maxBucket members is admitted") {
    val out = pairsOf(Dedup.bucketPairs(buckets("a" -> (1L to 5L)), Seq("k"), 5, 0))
    assert(out.length == 10, "the cap is inclusive: C(5,2) pairs")
  }

  test("bucketPairs: an oversized bucket and a singleton yield nothing") {
    val df = buckets("big" -> (1L to 6L), "one" -> Seq(7L), "ok" -> Seq(8L, 9L))
    assert(pairsOf(Dedup.bucketPairs(df, Seq("k"), 5, 0)) == Seq((8L, 9L)))
    assert(pairsOf(Dedup.bucketPairs(df, Seq("k"), 5, 3)) == Seq((8L, 9L)))
  }

  test("bucketPairs: successors = 0 gives C(s,2) ordered pairs for a size-s bucket") {
    val ids = (1L to 7L).map(_ * 10)
    val out = pairsOf(Dedup.bucketPairs(buckets("a" -> ids), Seq("k"), 100, 0))
    assert(out.length == 21)
    assert(out.toSet == ids.combinations(2).map(c => (c(0), c(1))).toSet)
  }

  test("bucketPairs: successors = W gives at most s*W pairs, all with id_a < id_b") {
    val ids = (1L to 20L).map(_ * 10) // gaps: the window counts members, not ids
    val w = 3
    val out = pairsOf(Dedup.bucketPairs(buckets("a" -> ids), Seq("k"), 100, w))
    assert(out.length <= ids.length * w)
    assert(out.length == ids.length * w - w * (w + 1) / 2) // the tail has fewer successors
    assert(out.forall { case (a, b) => a < b })
    assert(out.forall { case (a, b) => ids.indexOf(b) - ids.indexOf(a) <= w })
    // a bucket no wider than the window pairs completely
    assert(pairsOf(Dedup.bucketPairs(buckets("a" -> Seq(1L, 2L, 3L)), Seq("k"), 100, 8))
      .length == 3)
  }

  test("bucketPairs: a doc pair that shares two buckets comes out once") {
    import spark.implicits._
    val df = Seq((1L, 0, "x"), (2L, 0, "x"), (3L, 0, "x"), (1L, 1, "y"), (2L, 1, "y"))
      .toDF("doc_id", "band", "bkey")
    val all = pairsOf(Dedup.bucketPairs(df, Seq("band", "bkey"), 100, 0))
    assert(all.sorted == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    val windowed = pairsOf(Dedup.bucketPairs(df, Seq("band", "bkey"), 100, 1))
    assert(windowed.sorted == Seq((1L, 2L), (2L, 3L)))
  }

  // ------------------------------------------------- d13 / d14 banding

  test("d13: identical docs calibrate exactly — decile 10, zero estimator error") {
    val dir = tmpDir("graft_d13_")
    val text = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"oth$i").mkString(" ")
    writeDocs(dir, Seq(1L -> text, 2L -> text, 3L -> other))
    val rows = Dedup.d13_lsh_calibration(spark, dir).collect()
    val ten = rows.find(_.getAs[Long]("decile") == 10L)
      .getOrElse(fail("identical pair must land in decile 10"))
    assert(ten.getAs[Long]("n_pairs") == 1L)
    assert(ten.getAs[Long]("mean_est_pm") == 1000L)
    assert(ten.getAs[Long]("mean_exact_pm") == 1000L)
    assert(ten.getAs[Long]("max_abs_err_pm") == 0L)
  }

  test("d13: the per-bucket window bounds a dup family at s*W pairs, never C(s,2)") {
    // 30 IDENTICAL docs = one 30-member bucket in every band (same
    // signature everywhere, size 30 is inside the 2..100 cap). The
    // CALIB_NEIGHBORS=8 window must admit exactly 30*8 - 8*9/2 = 204
    // distinct pairs; unwindowed C(30,2) pairing would admit 435. This
    // is the r13 scale guard in CI form: a corpus whose dup families
    // grow with its size (PAIRS_r13.json: 76x pairs for 10x data on the
    // rotated sf10 corpus) must not turn the calibration quadratic.
    val dir = tmpDir("graft_d13w_")
    val text = (1 to 40).map(i => s"fam$i").mkString(" ")
    writeDocs(dir, (1L to 30L).map(_ -> text))
    val rows = Dedup.d13_lsh_calibration(spark, dir).collect()
    assert(rows.length == 1, "identical docs land in one decile")
    assert(rows.head.getAs[Long]("decile") == 10L)
    assert(rows.head.getAs[Long]("n_pairs") == 204L,
      s"window must admit s*W - W*(W+1)/2 = 204 pairs, got ${rows.head}")
    assert(rows.head.getAs[Long]("max_abs_err_pm") == 0L)
  }

  test("d14: candidate count equals the banding closed form — full C(s,2), never windowed") {
    // 30 identical docs = one 30-member bucket in every band (inside the
    // 2..100 cap). d14 KEEPS the complete candidate set by design (a
    // retention audit that samples pairs changes answers — PAIRS_r13),
    // so the distinct-pair frame must be exactly C(30,2) = 435. A
    // banding change that silently inflates pairs, or a d13-style
    // CALIB_NEIGHBORS window leaking into d14 (which would shrink this
    // to 30*8 - 8*9/2 = 204), fails here before it changes answers.
    val dir = tmpDir("graft_d14c_")
    val text = (1 to 40).map(i => s"fam$i").mkString(" ")
    writeDocs(dir, (1L to 30L).map(_ -> text))
    val (_, cands) = Dedup.d14BaseAndCandidates(spark, dir)
    assert(cands.count() == 435L,
      "d14's audit must see the FULL banding pair set C(30,2) = 435")
    // and the audit consumes all of them: under keep_first every doc
    // that is id_b in SOME pair drops — with full pairing that is 2..30
    val kf = Dedup.d14_retention_policies(spark, dir).collect()
      .find(_.getAs[String]("policy") == "keep_first")
      .getOrElse(fail("keep_first row missing"))
    assert(kf.getAs[Long]("n_dropped") == 29L && kf.getAs[Long]("n_kept") == 1L)
  }

  test("d13: report is bounded and decile-consistent on real data") {
    val rows = Dedup.d13_lsh_calibration(spark, sfDir).collect()
    assert(rows.nonEmpty, "the sf corpus contains near-dup pairs")
    rows.foreach { r =>
      val d = r.getAs[Long]("decile")
      assert(d >= 0 && d <= 10)
      val est = r.getAs[Long]("mean_est_pm")
      val exa = r.getAs[Long]("mean_exact_pm")
      assert(est >= 0 && est <= 1000 && exa >= 0 && exa <= 1000)
      assert(exa >= d * 100 && exa < (d + 1) * 100 || d == 10,
        "the decile's mean must sit inside the decile")
      assert(r.getAs[Long]("mean_abs_err_pm") <= r.getAs[Long]("max_abs_err_pm"))
    }
  }
}
