package graft

import graft.model.ModelEngine
import graft.ops.{GraphOps, Multimodal, PipelineOps, Similarity}
import graft.queries.Relational
import org.apache.spark.sql.functions._

/** Semantic contracts for the round-9 continuation operators
  * (q73/s13/g6/a12/t28/p5/m8) beyond their DuckDB-oracle exactness:
  * scale-independent properties a one-SF hash compare cannot pin.
  */
class Round9bOpsSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(dir: String, rows: Seq[(Long, String, String)]): Unit =
    spark.createDataFrame(rows.map { case (id, text, source) =>
      (id, text, "en", source, text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("q73: disc/cont/mode agree with first-principles recomputation") {
    val out = Relational.q73_ordered_set(spark, sfDir).collect()
    val li = Tables(spark, sfDir).lineitem
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.nonEmpty)
    out.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      val qs = li.filter(_._1 == flag).map(_._2).sorted
      // percentile_disc(0.9) = least value whose cume_dist >= 0.9
      val disc = qs.zipWithIndex
        .collectFirst { case (q, i) if (i + 1) * 10 >= qs.length * 9 => q }.get
      assert(r.getAs[Long]("p90_qty_disc") == disc, s"disc mismatch for $flag")
      // mode = most frequent, least-value tie break
      val mode = qs.groupBy(identity).toSeq
        .minBy { case (q, g) => (-g.length, q) }._1
      assert(r.getAs[Long]("mode_qty") == mode, s"mode mismatch for $flag")
      assert(r.getAs[Long]("n_rows") == qs.length.toLong)
      // cont median interpolates between the two middle values
      val n = qs.length
      val med =
        if (n % 2 == 1) qs(n / 2).toDouble
        else (qs(n / 2 - 1) + qs(n / 2)) / 2.0
      assert(math.abs(r.getAs[Double]("median_qty") - med) < 1e-6)
    }
  }

  test("s13: prefilter semantics — k of the matching subset, labels all match") {
    val out = Similarity.s13_filtered_ann(spark, sfDir)
    val emb = Tables(spark, sfDir).embeddings
      .select(col("vec_id"), col("label").cast("long").as("label")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Long]("label") == emb(q),
        "every neighbor must carry the query's label (prefilter, not postfilter)")
    }
    // pre-filter returns a full k whenever the subset has >= k members
    val perQuery = rows.groupBy(_.getAs[Long]("query_id"))
    perQuery.foreach { case (q, rs) =>
      val subset = emb.count { case (v, l) => l == emb(q) && v != q }
      assert(rs.length == math.min(5, subset))
      val cos = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("g6: cores nest and coreness counts the surviving thresholds") {
    val out = GraphOps.g6_kcore(spark, sfDir).collect()
    assert(out.length == 25)
    out.foreach { r =>
      val (c1, c2, c3) = (r.getAs[Boolean]("in_core1"),
        r.getAs[Boolean]("in_core2"), r.getAs[Boolean]("in_core3"))
      if (c3) assert(c2, "3-core must be inside the 2-core")
      if (c2) assert(c1, "2-core must be inside the 1-core")
      assert(r.getAs[Long]("coreness_capped") ==
        Seq(c1, c2, c3).count(identity).toLong)
    }
  }

  test("a12: seeds load with inferred types and feed a full project run") {
    val root = tmpDir("graft_seedproj_")
    val seedDir = s"$root/seeds"; val modelDir = s"$root/models"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(seedDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(modelDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(seedDir, "tiers.csv"),
      "tier,floor,is_gold\nbasic,0,false\ngold,100,true\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(modelDir, "m.sql"),
      "CREATE VIEW tier_count AS SELECT is_gold, COUNT(*) AS n FROM tiers GROUP BY is_gold".getBytes("UTF-8"))
    val engine = new ModelEngine(spark)
    val seeds = engine.loadSeeds(Seq(seedDir))
    assert(seeds.map(_._1) == Seq("tiers"))
    val sch = seeds.head._2.schema
    assert(sch("floor").dataType.typeName == "integer")
    assert(sch("is_gold").dataType.typeName == "boolean")
    assert(sch("tier").dataType.typeName == "string")
    java.nio.file.Files.write(java.nio.file.Paths.get(root, "powersql.toml"),
      "[project]\nname = \"seedproj\"\nmodels = [\"models\"]\nseeds = [\"seeds\"]\n".getBytes("UTF-8"))
    assert(GraftCli.execute(spark, "run", root, tmpDir("graft_wh_"), failFast = false) == 0)
    val out = spark.table("tier_count").collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(out == Map(false -> 1L, true -> 1L))
  }

  test("t28: docs made of target-distribution tokens outscore off-target docs") {
    val dir = tmpDir("graft_t28_")
    // doc_ids divisible by 13 are the target sample; give them a
    // distinctive vocabulary and check the importance weights find it
    writeDocs(dir, Seq(
      (0L, "zebra zebra zebra", "s0"), (13L, "zebra zebra", "s0"),
      (1L, "apple apple apple", "s0"), (2L, "apple apple", "s0"),
      (3L, "zebra apple", "s0")))
    val out = PipelineOps.t28_dsir(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("score_fp"), r.getAs[Boolean]("selected"))).toMap
    assert(out(0L)._1 > out(1L)._1, "pure-target doc must outscore off-target")
    assert(out(3L)._1 > out(1L)._1 && out(3L)._1 < out(0L)._1,
      "mixed doc scores between the pure docs")
    // selection = score >= per-source integer mean
    val mean = out.values.map(_._1).sum / out.size
    out.foreach { case (_, (s, sel)) => assert(sel == (s >= mean)) }
  }

  test("p5: phases are difficulty-ordered quartiles; shuffle_key is stable") {
    val a = PipelineOps.p5_curriculum(spark, sfDir).collect()
    val byPhase = a.groupBy(_.getAs[Long]("phase"))
    assert(byPhase.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
    // phase boundaries never interleave: max difficulty of phase p is <=
    // min difficulty of phase p+1
    val sortedPhases = byPhase.toSeq.sortBy(_._1)
    sortedPhases.zip(sortedPhases.tail).foreach { case ((_, lo), (_, hi)) =>
      assert(lo.map(_.getAs[Long]("difficulty_fp")).max <=
        hi.map(_.getAs[Long]("difficulty_fp")).min)
    }
    // determinism: a second run produces the identical shuffle keys
    val b = PipelineOps.p5_curriculum(spark, sfDir).collect()
    assert(a.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_key")))
      .toSeq == b.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_key"))).toSeq)
  }

  test("s14: recall report counts the true s1∩s2 intersection") {
    val rep = Similarity.s14_recall_eval(spark, sfDir).collect()
    val exact = Similarity.s1_ann_topk(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.s2_ann_lsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val hits = exact.filter(_._1 == q).count(lsh.contains)
      assert(r.getAs[Long]("n_hits") == hits.toLong)
      assert(r.getAs[Long]("recall_bp") ==
        hits.toLong * 10000L / r.getAs[Long]("n_exact"))
      assert(r.getAs[Long]("recall_bp") >= 0L && r.getAs[Long]("recall_bp") <= 10000L)
    }
  }

  test("a13: contracts grade type mismatch and null violations independently") {
    val out = graft.queries.ModelQueries.a13_contracts(spark, sfDir).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(out("o_orderkey").getAs[Boolean]("type_ok") &&
      out("o_orderkey").getAs[Boolean]("contract_ok"))
    assert(!out("o_totalprice").getAs[Boolean]("type_ok") &&
      !out("o_totalprice").getAs[Boolean]("contract_ok"))
    val masked = out("status_masked")
    assert(masked.getAs[Boolean]("type_ok"),
      "the masked column's TYPE is fine — only its nulls violate")
    assert(masked.getAs[Long]("null_violations") > 0L &&
      !masked.getAs[Boolean]("contract_ok"))
  }

  test("t29: fertility >= 1 piece/word and word totals tie to the corpus") {
    val out = PipelineOps.t29_fertility(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("fertility_permille") >= 1000L,
        "every word segments into at least one piece")
      assert(r.getAs[Long]("n_single") <= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("n_pieces_total") >= r.getAs[Long]("n_words"))
    }
    val corpusTokens = Tables(spark, sfDir).documents
      .select(explode(expr(graft.ops.TextOps.TOKENS)).as("t")).count()
    assert(out.map(_.getAs[Long]("n_words")).sum == corpusTokens)
  }

  test("m8: same-waveform clips collide, amplitude/duration do not separate") {
    val out = Multimodal.m8_audio_dedup(spark, sfDir).collect()
    // synth half-period has 7 classes -> exactly 7 perceptual groups
    assert(out.length == 7)
    val nDocs = Tables(spark, sfDir).documents.count()
    assert(out.map(_.getAs[Long]("n_clips")).sum == nDocs)
    out.foreach { r =>
      assert(r.getAs[Long]("pcm_bytes_reclaimed") < r.getAs[Long]("pcm_bytes_total"))
      // keep-first: the representative is a member (min doc id of group)
      assert(r.getAs[Long]("keep_doc") >= 0L)
    }
  }
}
