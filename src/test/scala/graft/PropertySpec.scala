package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll

/** Property-based cross-checks: two INDEPENDENT implementations of the
  * same contract must agree on randomized inputs — the operator-level
  * analogue of the DuckDB oracle gate (which pins one dataset; these pin
  * the algorithm). Sizes stay small so each property runs dozens of
  * random cases in seconds. Driven by scalacheck's own runner (no
  * scalatestplus bridge in the offline cache).
  */
class PropertySpec extends SparkSpec {

  private def checkProp(prop: Prop, minTests: Int): Unit = {
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(minTests)
      .withInitialSeed(org.scalacheck.rng.Seed(42L)) // reproducible CI
    val res = org.scalacheck.Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("components: star contraction and label propagation agree on random graphs") {
    import spark.implicits._
    val genEdges = for {
      n <- Gen.choose(2, 24)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield edges.filter { case (a, b) => a != b }
    // driver-side reference: union-find, every node to its component's min
    def reference(edges: List[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(n => n -> find(n)).toMap
    }
    def toMap(r: graft.ops.Dedup.ClusterResult) = r.labels.collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("label")).toMap
    checkProp(forAll(genEdges) { edges =>
      edges.isEmpty || {
        val expected = reference(edges)
        // one partition (the seed labels whole components) and one edge
        // per partition (label propagation and, past its cap, the star
        // step do all the work)
        val layouts = Seq(1, edges.size).map(n =>
          spark.sparkContext.parallelize(edges, n).toDF("id_a", "id_b"))
        val lp = layouts.map(df => graft.ops.Dedup.components(df, maxRounds = 30))
        val star = graft.ops.Dedup.starContraction(layouts.last, checkpointDir = None)
        (lp :+ star).forall(r => r.converged && toMap(r) == expected)
      }
    }, minTests = 12)
  }

  test("top-k: native bounded-heap operator equals window row_number on random data") {
    import spark.implicits._
    val genRows = for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0, 4)
        v <- Gen.choose(-1000, 1000)
        id <- Gen.choose(0L, 100000L)
      } yield (g, v, id))
    } yield rows.distinctBy(_._3) // unique tiebreak key
    checkProp(forAll(genRows) { rows =>
      rows.isEmpty || {
        val df = rows.toDF("g", "v", "id")
        val native = graft.plans.TopKPerGroup
          .topKPerGroup(df, Seq("g"), Seq(("v", false), ("id", true)), 3)
          .select("g", "v", "id").collect().map(_.toSeq).toSet
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy(col("v").desc, col("id").asc)
        val windowed = df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3).select("g", "v", "id")
          .collect().map(_.toSeq).toSet
        native == windowed
      }
    }, minTests = 12)
  }

  test("upsert: applying the same update batch twice equals applying it once") {
    import spark.implicits._
    val genCase = for {
      base <- Gen.listOfN(20, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0, 100)))
      upd <- Gen.listOfN(8, Gen.zip(Gen.choose(0L, 40L), Gen.choose(0, 100)))
    } yield (base.distinctBy(_._1), upd.distinctBy(_._1))
    checkProp(forAll(genCase) { case (base, upd) =>
      val b = base.toDF("k", "v")
      val u = upd.toDF("k", "v")
      val once = graft.sources.Sources.upsert(b, u, "k")
      val twice = graft.sources.Sources.upsert(once, u, "k")
      once.collect().map(_.toSeq).toSet == twice.collect().map(_.toSeq).toSet
    }, minTests = 8)
  }

  test("zorder: interleave/deinterleave identity and locality on random coordinates") {
    import spark.implicits._
    val genPts = for {
      n <- Gen.choose(1, 40)
      pts <- Gen.listOfN(n, for {
        x <- Gen.choose(0L, 65535L)
        y <- Gen.choose(0L, 65535L)
      } yield (x, y))
    } yield pts
    checkProp(forAll(genPts) { pts =>
      val rows = pts.toDF("x", "y")
        .withColumn("z", graft.ops.LayoutOps.zorder16(col("x"), col("y")))
        .collect()
      rows.forall { r =>
        val (x, y, z) = (r.getLong(0), r.getLong(1), r.getLong(2))
        // deinterleave: even bits rebuild x, odd bits rebuild y
        val xBack = (0 until 16).map(i => ((z >> (2 * i)) & 1L) << i).sum
        val yBack = (0 until 16).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
        xBack == x && yBack == y && z >= 0 && z < (1L << 32)
      }
    }, minTests = 20)
  }

  test("cdc: applying the change feed to v0 reconstructs v1 on random mutations") {
    import spark.implicits._
    // random keyed table + random mutation (delete/update/insert per key
    // bucket) → changes(v0, v1) must be a COMPLETE and MINIMAL delta:
    // v0 minus deleted/updated keys, plus post-images and inserts,
    // equals v1 exactly — and untouched rows never appear in the feed
    val genCase = for {
      n <- Gen.choose(1, 40)
      ops <- Gen.listOfN(n, Gen.choose(0, 3)) // 0 keep, 1 delete, 2 update, 3 also keep
    } yield ops.zipWithIndex.map { case (op, k) => (k.toLong, op) }
    checkProp(forAll(genCase) { rows =>
      val table = java.nio.file.Files.createTempDirectory("cdc_prop_").toString + "/t"
      val v0 = rows.map { case (k, _) => (k, s"s$k", k * 1.5) }.toDF("id", "s", "v")
      graft.sources.Snapshots.write(v0, table)
      val v1rows = rows.flatMap {
        case (k, 1) => Nil // deleted
        case (k, 2) => Seq((k, s"s$k", k * 1.5 + 100)) // updated
        case (k, _) => Seq((k, s"s$k", k * 1.5)) // untouched
      } ++ rows.collect { case (k, 3) => (-k - 1, s"new$k", 0.0) } // inserts
      graft.sources.Snapshots.write(v1rows.toDF("id", "s", "v"), table)
      val feed = graft.sources.Snapshots.changes(spark, table, 0L, 1L, "id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      val deleted = feed.collect { case ("delete", id, _, _) => id }.toSet
      val preIds = feed.collect { case ("update_pre", id, _, _) => id }.toSet
      val applied = rows.collect { case (k, op) if !deleted(k) && !preIds(k) => (k, s"s$k", k * 1.5) } ++
        feed.collect { case ("update_post", id, s, v) => (id, s, v) } ++
        feed.collect { case ("insert", id, s, v) => (id, s, v) }
      val want = v1rows.toSet
      // feed validity: pre/post ids pair up; untouched rows absent
      val touched = rows.collect { case (k, op) if op == 1 || op == 2 => k }.toSet
      preIds == feed.collect { case ("update_post", id, _, _) => id }.toSet &&
        feed.forall { case (_, id, _, _) => touched(id) || id < 0 } &&
        applied.toSet == want
    }, minTests = 10)
  }

  test("selector: +m+ always equals the union of +m and m+ on random DAGs") {
    val genDag: Gen[Map[String, Seq[String]]] = Gen.choose(2, 10).flatMap { n =>
      val names = (0 until n).map(i => s"m$i")
      names.zipWithIndex.foldLeft(Gen.const(Map.empty[String, Seq[String]])) {
        case (acc, (name, i)) =>
          acc.flatMap { m =>
            // parents only from earlier names → acyclic by construction
            Gen.someOf(names.take(i)).map(ps => m + (name -> ps.toSeq))
          }
      }
    }
    checkProp(forAll(genDag) { deps =>
      deps.keys.forall { m =>
        val both = graft.model.Selector.expand(deps, s"+$m+")
        val union = graft.model.Selector.expand(deps, s"+$m") ++
          graft.model.Selector.expand(deps, s"$m+")
        both == union && both.contains(m)
      }
    }, minTests = 30)
  }
}
