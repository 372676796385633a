package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN family: per-entry contracts against the exact baseline, and
  * the boundaries of the shared pieces — the PQ codebook trainer
  * ([[Similarity.trainPq]]) and the shortlist → exact rerank
  * ([[Similarity.rerank]]) that s6, s9 and s10 end in.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** The testdata directory at `scale`, beside the suite's sf0.001. */
  private def scaleDir(scale: String): String =
    s"${new java.io.File(sfDir).getParent}/sf$scale"

  test("s1_ann_topk: 5 exact neighbors per query, cosine descending") {
    val out = Similarity.s1_ann_topk(spark, sfDir).collect()
    assert(out.length == 50) // 10 queries × 5
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val cos = rows.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivfTopK: probes nprobe lists, high overlap with exact top-k") {
    val exact = Similarity.s1_ann_topk(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(Similarity.unitFrame(spark, sfDir)).collect()
    assert(ivf.nonEmpty)
    val pairs = ivf.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // nprobe=4 of nlist=16 lists → expect substantial (not full) recall
    assert(pairs.intersect(exact).size >= exact.size / 4,
      s"IVF recall too low: ${pairs.intersect(exact).size}/${exact.size}")
  }

  test("s3_ann_ivf entry emits the satisfied recall contract") {
    val row = Similarity.s3_ann_ivf(spark, sfDir).collect().head
    assert(row.getAs[Long]("n_queries") == 10L)
    assert(row.getAs[Long]("k") == 5L)
    assert(row.getAs[Boolean]("recall_ok"), s"recall@5 below ${Similarity.IvfMinRecall}")
  }

  test("s6_ann_pq: PQ+rerank recall@5 clears the contract with margin") {
    for (sf <- Seq(scaleDir("0.001"), scaleDir("0.01"), scaleDir("0.1"))) {
      val exact = Similarity.s1_ann_topk(spark, sf).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val pq = Similarity.pqTopK(Similarity.unitFrame(spark, sf)).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = pq.intersect(exact).size.toDouble / exact.size
      info(s"$sf: PQ recall@5 = $recall")
      assert(recall >= Similarity.PqMinRecall,
        s"PQ+rerank recall@5 $recall below ${Similarity.PqMinRecall} at $sf")
      val row = Similarity.s6_ann_pq(spark, sf).collect().head
      assert(row.getAs[Long]("n_queries") == 10L)
      assert(row.getAs[Long]("k") == 5L)
      assert(row.getAs[Boolean]("recall_ok"))
    }
  }

  test("s9_ivfpq: residual-PQ recall@5 clears the contract at every local SF") {
    for (sf <- Seq(scaleDir("0.001"), scaleDir("0.01"))) {
      val exact = Similarity.s1_ann_topk(spark, sf).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val ivfpq = Similarity.ivfpqTopK(Similarity.unitFrame(spark, sf)).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = ivfpq.intersect(exact).size.toDouble / exact.size
      info(s"$sf: IVF-PQ recall@5 = $recall")
      assert(recall >= Similarity.IvfPqMinRecall,
        s"IVF-PQ recall@5 $recall below ${Similarity.IvfPqMinRecall} at $sf")
      val row = Similarity.s9_ivfpq(spark, sf).collect().head
      assert(row.getAs[Long]("n_queries") == 10L)
      assert(row.getAs[Long]("k") == 5L)
      assert(row.getAs[Boolean]("recall_ok"))
    }
  }

  test("s2_ann_lsh returns bucket-local neighbors; nonzero overlap with exact") {
    val exact = Similarity.s1_ann_topk(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.s2_ann_lsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(approx.nonEmpty)
    // single-probe LSH: expect some—not full—overlap with the exact top-k
    assert(approx.intersect(exact).nonEmpty)
  }

  /** (vec_id, sub, subvec) rows: 16 subspaces of 4 dims per doc. */
  private def subvecFrame(docs: Seq[(Long, Array[Double])]): DataFrame =
    docs.flatMap { case (id, v) =>
      (0 until 16).map(s => (id, s, v.slice(s * 4, s * 4 + 4).toSeq))
    }.toDF("vec_id", "sub", "subvec")

  private def randomDocs(ids: Range, seed: Long, lo: Double, hi: Double): Seq[(Long, Array[Double])] = {
    val r = new scala.util.Random(seed)
    ids.map(i => (i.toLong, Array.fill(64)(lo + (hi - lo) * r.nextDouble())))
  }

  test("trainPq: M×K codewords, one code per (doc, subspace), corpusN = input rows") {
    val docs = randomDocs(0 until 40, 11L, -1.0, 1.0)
    val (codebook, codes, corpusN) = Similarity.trainPq(subvecFrame(docs), rounds = 3)
    val cb = codebook.collect()
    assert(cb.length == 16 * 16)
    assert(cb.map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"))).toSet ==
      (for (s <- 0 until 16; c <- 0 until 16) yield (s, c)).toSet)
    assert(corpusN == 40L)
    val cs = codes.collect()
    assert(codes.columns.toSeq == Seq("vec_id", "sub", "code"))
    assert(cs.length == 40 * 16)
    assert(cs.map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sub"))).distinct.length == cs.length)
    assert(cs.forall(r => (0 until 16).contains(r.getAs[Int]("code"))))
    // a carried column rides the encode unchanged
    val withCluster = subvecFrame(docs).withColumn("cluster", (col("vec_id") % 3).cast("int"))
    val (_, carried, n2) = Similarity.trainPq(withCluster, rounds = 2, carry = Seq("cluster"))
    assert(n2 == 40L)
    assert(carried.columns.toSeq == Seq("vec_id", "cluster", "sub", "code"))
    assert(carried.collect().forall(r =>
      r.getAs[Int]("cluster") == (r.getAs[Long]("vec_id") % 3).toInt))
  }

  test("trainPq: a codeword no subvector chooses keeps its previous value") {
    // docs 0 and 1 are identical and far from the rest, so every tie
    // between codes 0 and 1 goes to code 0 and code 1 stays empty in
    // every round; it must keep its init (doc 1's subvectors)
    val far = Array.fill(64)(10.0)
    val docs = Seq((0L, far), (1L, far.clone())) ++ randomDocs(2 until 20, 5L, -1.0, 1.0)
    val (codebook, _, corpusN) = Similarity.trainPq(subvecFrame(docs), rounds = 3)
    assert(corpusN == 20L)
    val cvec = codebook.collect().map(r =>
      (r.getAs[Int]("sub"), r.getAs[Int]("code")) -> r.getSeq[Double](2)).toMap
    (0 until 16).foreach { s =>
      assert(cvec((s, 1)) == Seq.fill(4)(10.0), s"sub $s code 1 moved")
      assert(cvec((s, 0)) == Seq.fill(4)(10.0), s"sub $s code 0 is the mean of docs 0 and 1")
    }
  }

  test("rerank: ≤5 rows per query, ranked 1..n, shortlist cut and neighbor_id tiebreak") {
    val r = new scala.util.Random(3L)
    // queries 0..9 point into the positive orthant, 10..19 away from it,
    // and 20..29 are one shared vector: equal cosines to every query
    val unit = ((0 until 10).map(i => (i.toLong, Seq.fill(4)(0.1 + r.nextDouble()))) ++
      (10 until 20).map(i => (i.toLong, Seq.fill(4)(-0.1 - r.nextDouble()))) ++
      (20 until 30).map(i => (i.toLong, Seq.fill(4)(0.5))))
      .toDF("vec_id", "unit")
    // query 0 has three candidates; queries 1..9 score every doc ≥ 10 by
    // its id, so the top-8 shortlist is 22..29 and 20, 21 never rerank
    val scored = (Seq(20L, 21L, 22L).map(v => (0L, v, v.toDouble)) ++
      (for (q <- 1L until 10L; v <- 10L until 30L) yield (q, v, v.toDouble)))
      .toDF("query_id", "vec_id", "approx")
    val out = Similarity.rerank(scored, "approx", 8, unit).collect()
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.foreach { case (q, rows) =>
      val ranked = rows.sortBy(_.getAs[Long]("rank"))
      assert(ranked.length <= 5)
      assert(ranked.map(_.getAs[Long]("rank")).toSeq == (1L to ranked.length.toLong), s"query $q")
      val ids = ranked.map(_.getAs[Long]("neighbor_id")).toSeq
      assert(ids == (if (q == 0L) Seq(20L, 21L, 22L) else (22L to 26L)), s"query $q")
      assert(ranked.map(_.getAs[Double]("cosine")).distinct.length == 1, s"query $q")
    }
  }
}
