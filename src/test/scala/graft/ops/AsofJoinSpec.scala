package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class AsofJoinSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asofJoin picks latest right row at or before each left ts, per key") {
    import spark.implicits._
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:05")),
      (2L, 100L, ts("2024-01-01 10:00:10")),
      (3L, 200L, ts("2024-01-01 10:00:01")),
      (4L, 300L, ts("2024-01-01 10:00:30"))
    ).toDF("trade_id", "key", "ts")
    val quotes = Seq(
      (100L, ts("2024-01-01 10:00:00"), 1.0),
      (100L, ts("2024-01-01 10:00:05"), 2.0),  // equal ts → included (>=)
      (100L, ts("2024-01-01 10:00:07"), 3.0),
      (200L, ts("2024-01-01 10:00:02"), 9.0)   // after the only trade → excluded
    ).toDF("key", "ts", "price")

    val out = AsofJoin.asofJoin(trades, quotes, "key", "ts", Seq("price"))
      .select(col("trade_id"), col("asof.price").as("price"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L).contains(2.0))  // equal-ts quote wins over 10:00:00
    assert(out(2L).contains(3.0))  // latest preceding
    assert(out(3L).isEmpty)        // no quote at or before
    assert(out(4L).isEmpty)        // key with no quotes at all
  }

  test("q23 matches a window-free reference computation on testdata") {
    val out = AsofJoin.q23_asof_join(spark, sfDir)
    val ev = Tables(spark, sfDir).events.select("event_id", "user_id", "ts", "value", "event_type").collect()
    val clicks = ev.filter(_.getAs[String]("event_type") == "click")
      .groupBy(_.getAs[Long]("user_id"))
    val expected = ev.filter(_.getAs[String]("event_type") == "purchase").map { p =>
      val best = clicks.getOrElse(p.getAs[Long]("user_id"), Array.empty)
        .filter(c => !c.getAs[java.sql.Timestamp]("ts").after(p.getAs[java.sql.Timestamp]("ts")))
        .sortBy(_.getAs[java.sql.Timestamp]("ts").getTime)
        .lastOption
      p.getAs[Long]("event_id") -> best.map(_.getAs[Long]("event_id"))
    }.toMap
    val got = out.collect().map(r =>
      r.getAs[Long]("purchase_id") -> Option(r.get(r.fieldIndex("click_id"))).map(_.asInstanceOf[Long])).toMap
    assert(got == expected)
  }
}

class SkewSpec extends SparkSpec {

  test("saltedJoin returns exactly the rows of the unsalted join") {
    val t = Tables(spark, sfDir)
    val plain = t.lineitem.join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    val salted = Skew.saltedJoin(t.lineitem, t.orders, "l_orderkey", "o_orderkey", 4)
      .select("l_orderkey", "l_linenumber", "o_orderpriority")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("saltedJoinAuto: advisor picks a salt factor on a skewed key and preserves the join") {
    import spark.implicits._
    // synthetic skew: one key holds half the fact rows
    val fact = ((1L to 500L).map(i => (0L, i)) ++
      (1L to 500L).map(i => (i % 50 + 1, i + 1000))).toDF("k", "payload")
    val dim = (0L to 50L).map(i => (i, s"dim_$i")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("k", "payload", "name")
    val auto = Skew.saltedJoinAuto(fact, dim, "k", "dk")
      .select("k", "payload", "name")
    assert(auto.count() == plain.count())
    assert(auto.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(auto).count() == 0)
    // the report math itself: max_cnt=500, n_keys=51, n_rows=1000 →
    // ceil(500*51/1000) = 26 — genuinely salted, not the factor-1 path
    assert(auto.queryExecution.analyzed.toString().contains("_salt"),
      "skewed input must take the salted path")

    // uniform key → factor 1 → plain join (no salt column in the plan)
    val uniform = (1L to 100L).map(i => (i % 50, i)).toDF("k", "payload")
    val autoU = Skew.saltedJoinAuto(uniform, dim, "k", "dk")
    assert(!autoU.queryExecution.analyzed.toString().contains("_salt"))
    assert(autoU.count() == uniform.join(dim, col("k") === col("dk")).count())
  }
}
