package graft

/** Driver-contract guard: every SparkEntry.queries entry must build,
  * execute, and return rows at sf0.001 (the driver's smoke check), and
  * every oracleSql key must reference a registered entry. A new operator
  * that breaks any registered entry — or an oracle typo'd against a
  * nonexistent name — fails here instead of in the round's verify run.
  */
class EntrySmokeSpec extends SparkSpec {

  test("every query entry executes and returns rows at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      if (n > 0) None else Some(name)
    }
    assert(empty.isEmpty, s"entries with no rows: ${empty.mkString(", ")}")
  }

  test("every oracle key names a registered query entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without entries: ${orphans.mkString(", ")}")
  }

  test("every query entry is oracle-checked (zero rows-only is a CI invariant)") {
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty,
      s"entries without oracles (would silently demote to rows-only): ${unchecked.mkString(", ")}")
  }

  test("bench short ids stay unique across entries") {
    val ids = SparkEntry.queries.keySet.map(Entries.shortId)
    assert(ids.size == SparkEntry.queries.size,
      "two entries share a short id - the driver bench line would collide")
  }

  test("the flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
