package graft

import graft.ops.{PipelineOps, TextOps}
import org.apache.spark.sql.functions._

/** Semantic contracts for the round-9 fourth-wave operators (t30/p7)
  * beyond their DuckDB-oracle exactness: the Gopher repetition rules
  * reject constructed loop-spam and the packing manifest conserves token
  * mass. d13's contracts live in ops.DedupSpec.
  */
class Round9dOpsSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(dir: String, rows: Seq[(Long, String)]): Unit =
    spark.createDataFrame(rows.map { case (id, text) =>
      (id, text, "en", "s", text.length.toLong)
    }).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("t30: loop-spam is rejected, diverse text is kept, arithmetic is exact") {
    val dir = tmpDir("graft_t30_")
    val spam = Seq.fill(50)("buy now").mkString(" ")          // 100 tokens
    val clean = (1 to 20).map(i => s"w$i").mkString(" ")      // all unique
    writeDocs(dir, Seq(1L -> spam, 2L -> clean))
    val out = TextOps.t30_repetition_filter(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("top2_pm"), r.getAs[Long]("dup5_pm"), r.getAs[Boolean]("keep")))
      .toMap
    // spam: "buy now" appears 50x over 100 tokens -> 50*2000/100 = 1000;
    // 96 5-gram slots, 2 distinct -> 94 dup occurrences -> 94*5000/100 = 4700
    assert(out(1L) == ((1000L, 4700L, false)))
    // clean: every 2-gram unique -> 2000/20 = 100; no 5-gram dups
    assert(out(2L) == ((100L, 0L, true)))
  }

  test("t30: permille bounds hold corpus-wide") {
    val rows = TextOps.t30_repetition_filter(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top2 = r.getAs[Long]("top2_pm")
      val dup5 = r.getAs[Long]("dup5_pm")
      assert(top2 >= 0 && top2 <= 2000, "a doc of one repeated token peaks at 2000")
      assert(dup5 >= 0 && dup5 < 5000)
      assert(r.getAs[Boolean]("keep") == (top2 <= 200 && dup5 <= 150))
    }
  }

  test("p7: packing manifest conserves token mass and chunk arithmetic") {
    val rows = PipelineOps.p7_pack_chunks(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nTokens = r.getAs[Long]("n_tokens")
      val nChunks = r.getAs[Long]("n_chunks")
      val pad = r.getAs[Long]("pad_tokens")
      assert(nChunks * 256 == nTokens + pad, "chunks cover tokens exactly")
      assert(pad >= 0 && pad < 256, "only the final context pads")
      assert(r.getAs[Long]("n_boundary_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("docs_per_chunk_pm") ==
        r.getAs[Long]("n_docs") * 1000 / nChunks)
    }
    // shard-total token mass equals an independent corpus count
    val total = Tables(spark, sfDir).documents
      .select(expr(s"cast(size(${TextOps.TOKENS}) as bigint)").as("n"))
      .filter(col("n") >= 1).agg(sum("n")).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == total)
  }

  test("p7: a doc longer than one context must cross a boundary") {
    val dir = tmpDir("graft_p7_")
    val long = (1 to 300).map(i => s"t$i").mkString(" ") // 300 > 256
    writeDocs(dir, Seq(1L -> long))
    val r = PipelineOps.p7_pack_chunks(spark, dir).collect()
    assert(r.map(_.getAs[Long]("n_boundary_docs")).sum == 1L)
    assert(r.map(_.getAs[Long]("n_chunks")).sum == 2L)
    assert(r.map(_.getAs[Long]("pad_tokens")).sum == 212L) // 2*256-300
  }
}
