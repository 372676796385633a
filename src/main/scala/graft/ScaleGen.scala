package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for LOCAL scale validation (SURVEY §5 / VERDICT r4
  * item 3): replicate a driver testdata dir `factor`× with disjoint key
  * spaces, so every plan shape can be measured at sf1 (6M lineitem) on
  * this machine without touching the read-only driver data.
  *
  * Copy 0 is the identity, so sf1 ⊇ sf0.1 row-for-row. Referential
  * integrity holds per copy: order/customer/supplier/part/user/doc/vec
  * keys all shift by copy-sized offsets, and nation/region (fixed 25/5
  * dimensions at every TPC-H SF) stay shared. Text and embedding copies
  * are ROTATED (tokens by i, dims by i), not duplicated verbatim —
  * verbatim copies would add 10 exact dups of every doc. Rotation keeps
  * each copy's internal dup/near-dup density identical to the original,
  * but (r13 finding, PAIRS_r13.json) it PRESERVES bigram shingles, so
  * the copies of one doc still form a MinHash near-dup family of size =
  * factor and cross-copy candidate pairs grow quadratically in factor.
  * Pass a 4th arg "perturb" for a density-CONTROLLED corpus (per-copy
  * bijective token renaming, see the documents block) whose cross-SF
  * wall ratios measure engine scaling rather than data densification.
  *
  * This is a test-harness tool, not an operator: determinism matters
  * (same input → same sf1 bytes), realism of the marginal distribution
  * does not.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val spark = Entries.session("graft-scalegen")

    // events goes through Tables: its parquet carries ns-precision
    // timestamps Spark won't read raw; Tables truncates to micros, so the
    // generated copy is directly readable everywhere
    def read(t: String) =
      if (t == "events") Tables(spark, src).events
      else graft.sources.Sources.parquet(spark, s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")

    def scaled(t: String)(mut: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = read(t)
      (0 until factor).map(i => mut(base, i)).reduce(_ unionByName _)
    }
    // Strides only guarantee disjoint copies when the SOURCE keys are
    // below the stride — i.e. the source is an original driver sf dir,
    // not itself ScaleGen output (10×(10×sf0.1) collides custkeys where
    // 100×sf0.1 does not; the CDC key-uniqueness guard caught exactly
    // this in round 7). Fail fast instead of writing a corpus whose
    // duplicate keys silently reshape every join's cardinality.
    val strideChecked = scala.collection.mutable.Set.empty[String]
    def shift(df: DataFrame, c: String, by: Long): DataFrame = {
      if (by > 0 && strideChecked.add(c)) { // by = i*stride; first shifted copy checks
        val stride = by
        val mx = df.agg(max(col(c))).collect()(0).getAs[Number](0).longValue
        require(mx < stride,
          s"$c max $mx >= stride $stride: the source dir already carries " +
            "shifted keys (ScaleGen output?) — regenerate from the original " +
            "sf dir with a single larger factor instead of re-scaling output")
      }
      df.withColumn(c, col(c) + lit(by))
    }

    // key-space strides: larger than any key at the source SF ×factor
    val ORD = 100000000L; val CUST = 10000000L; val SUPP = 1000000L
    val PART = 10000000L; val EVT = 10000000L; val USER = 1000000L
    val DOC = 1000000L; val VEC = 1000000L

    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    write(scaled("customer") { (df, i) => shift(df, "c_custkey", i * CUST) },
      "customer", 4)
    write(scaled("supplier") { (df, i) => shift(df, "s_suppkey", i * SUPP) },
      "supplier", 2)
    write(scaled("part") { (df, i) => shift(df, "p_partkey", i * PART) },
      "part", 4)
    write(scaled("orders") { (df, i) =>
      shift(shift(df, "o_orderkey", i * ORD), "o_custkey", i * CUST)
    }, "orders", 8)
    write(scaled("lineitem") { (df, i) =>
      shift(shift(shift(df, "l_orderkey", i * ORD), "l_suppkey", i * SUPP),
        "l_partkey", i * PART)
    }, "lineitem", 16)
    write(scaled("events") { (df, i) =>
      shift(shift(df, "event_id", i * EVT), "user_id", i * USER)
    }, "events", 8)

    // documents, two modes (r13 finding):
    //
    // "rotate" (default): rotate the token stream by i (copy 0
    // untouched). Same tokens, same within-copy duplicate structure —
    // but a rotation preserves nearly every BIGRAM shingle (only the cut
    // and wrap points change), so the copies of one source doc form a
    // near-dup family of size = factor, and cross-copy candidate pairs
    // in the MinHash entries grow as C(factor,2): measured 24.3M pairs
    // at factor 100 vs 0.32M at factor 10 (75.9× for 10× data,
    // PAIRS_r13.json). Rotation therefore stress-tests the candidate
    // blow-up path, which is useful — but it makes cross-SF wall-clock
    // ratios of dedup entries measure data densification, not engine
    // scaling.
    //
    // "perturb": instead of rotating, rename 2/3 of token VALUES per
    // copy (t → t~i when pmod(hash(t),3)≠0; copy 0 untouched, and
    // copies i>0 take the rename INSTEAD of the rotation — measured
    // cross-copy bigram Jaccard 0.06 matches the no-rotation transform).
    // The map is a bijection applied
    // uniformly to the copy's whole vocabulary, so every within-copy
    // similarity (shingle Jaccard, df distribution shape, dup families)
    // is preserved EXACTLY, while cross-copy bigram Jaccard drops to
    // ≈0.06 — far below the 16×4 LSH S-curve — so candidate density
    // stays constant as the corpus scales and wall-ratios read as
    // engine scaling. Cost: common-token df grows ~factor/3 instead of
    // ~factor (vocabulary grows with scale, Heaps-ish — acceptable).
    val perturb = args.length > 3 && args(3) == "perturb"
    if (perturb && factor > 1) {
      // The per-copy rename t -> concat(t, '~i') is only a bijection when
      // no source token already carries a '~' — a kept token "x~1" would
      // merge with renamed "x" in copy 1, silently violating the
      // within-copy-similarity-preserved-EXACTLY invariant the mode's
      // density-control claim rests on. Fail fast (one cheap aggregate),
      // mirroring the stride-check discipline above.
      val tilde = read("documents").filter(col("text").contains("~")).count()
      require(tilde == 0L,
        s"perturb mode: $tilde source documents contain '~' in text — " +
          "the copy-suffix rename would not be a bijection; regenerate " +
          "from a clean corpus or change the suffix separator")
    }
    write(scaled("documents") { (df, i) =>
      val mutated =
        if (i == 0) df
        else if (perturb) df.withColumn("text",
          expr(s"""concat_ws(' ', transform(split(text, ' '),
                  |  t -> CASE WHEN pmod(hash(t), 3) = 0 THEN t
                  |       ELSE concat(t, '~$i') END))""".stripMargin))
          .withColumn("n_chars", length(col("text")).cast("long"))
        else df.withColumn("text",
          expr(s"""concat_ws(' ',
                  |  concat(slice(split(text, ' '), $i + 1,
                  |               greatest(size(split(text, ' ')) - $i, 0)),
                  |         slice(split(text, ' '), 1,
                  |               least($i, size(split(text, ' '))))))""".stripMargin))
          .withColumn("n_chars", length(col("text")).cast("long"))
      shift(mutated, "doc_id", i * DOC)
    }, "documents", 4)

    // embeddings: rotate dimensions by i — norms preserved, directions
    // decorrelated across copies, within-copy neighbor structure intact
    write(scaled("embeddings") { (df, i) =>
      val rotated =
        if (i == 0) df
        else df.withColumn("embedding",
          expr(s"""concat(slice(embedding, ${i % 64} + 1, 64 - ${i % 64}),
                  |       slice(embedding, 1, ${i % 64}))""".stripMargin)
            .cast("array<float>"))
      shift(rotated, "vec_id", i * VEC)
    }, "embeddings", 2)

    println(s"scalegen done: $out at ${factor}x of $src")
    spark.stop()
  }
}
