package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import java.nio.charset.StandardCharsets

/** Versioned snapshot tables: every write lands in a fresh immutable
  * version directory and a tiny manifest file is atomically swapped to
  * point at it — O(1) commit, readers never observe a half-written
  * table, and every historical version stays addressable.
  *
  * This is the training-data reproducibility primitive: a training run
  * records the snapshot version it read, and months later the exact
  * bytes are re-readable (`read(path, Some(v))`) even though the
  * pipeline has kept publishing. Writers pay no rewrite of prior data;
  * old versions are garbage-collected explicitly (`vacuum`), never
  * implicitly.
  *
  * The manifest protocol (write temp + atomic rename) is the same
  * last-writer-wins single-pointer design lakehouse formats grew out
  * of; no lock service is needed because versions are immutable and the
  * pointer swap is a filesystem atomic. ALL manifest I/O goes through
  * the Hadoop FileSystem API, so the same code runs on file:, hdfs://
  * and s3a:// table paths (the rename is atomic on posix filesystems
  * and HDFS; on S3 it is copy+delete — pair with a conditional-put
  * manifest service if concurrent writers must be fenced, readers are
  * safe either way because version directories are immutable).
  */
object Snapshots {

  /** Active session's Hadoop conf (carries fs credentials/settings);
    * plain defaults when called without a session.
    */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def manifestPath(table: String) = new Path(table, "_CURRENT")

  /** Commit `df` as the next version; returns the version number. */
  def write(df: DataFrame, table: String): Long = {
    val next = currentVersion(table).map(_ + 1).getOrElse(0L)
    df.write.mode("errorifexists").parquet(s"$table/v=$next")
    val tmp = new Path(table, s"_CURRENT.tmp.$next")
    // the whole manifest commit goes through FileContext (raw fs): a
    // FileSystem.create on local paths routes through ChecksumFileSystem
    // and would strand a .crc sidecar per commit that the rename below
    // (raw) never moves; and FileContext.rename(OVERWRITE) is the atomic
    // pointer swap plain FileSystem.rename refuses
    val fc = FileContext.getFileContext(tmp.toUri, hadoopConf)
    val out = fc.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
    try out.write(next.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    try fc.rename(tmp, manifestPath(table), Options.Rename.OVERWRITE)
    catch {
      case t: Throwable =>
        try fc.delete(tmp, false) catch { case _: Throwable => () }
        throw t
    }
    next
  }

  /** Latest committed version, if the table exists. */
  def currentVersion(table: String): Option[Long] = {
    val m = manifestPath(table)
    val f = fs(m)
    if (!f.exists(m)) None
    else {
      val in = f.open(m)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, StandardCharsets.UTF_8).trim.toLong)
      } finally in.close()
    }
  }

  /** Read the current version, or a pinned historical one (time travel). */
  def read(spark: SparkSession, table: String, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(table)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $table"))
    Sources.parquet(spark, s"$table/v=$v")
  }

  /** Change-data-feed between two committed versions: every row of the
    * `toV` snapshot classified against `fromV` as `insert` / `delete` /
    * `update` — updates emit BOTH images (`update_pre` / `update_post`),
    * the CDC convention incremental downstream consumers need to retract
    * the old contribution and apply the new one. This is the diff a
    * lakehouse change-data-feed serves without re-reading either table's
    * history: versions are immutable, so the feed is a pure function of
    * two scans.
    *
    * `key` must be unique within each version (the table is keyed —
    * the same precondition MERGE has); a duplicated key fans the
    * full-outer join out and emits one update pair per match. With
    * `assertUniqueKey` (the default) both versions are checked up front
    * — one count-vs-count-distinct aggregate per side, failing fast
    * with the duplicate count instead of silently exploding the diff;
    * pass `assertUniqueKey = false` to skip the two extra scans when
    * the table is keyed by construction.
    *
    * Shape: ONE full-outer join on `key` (the only wide stage) and one
    * pass over the joined rows — the four CDC branches materialize from
    * a single `explode(filter(array(...)))`, never four re-executions of
    * the join (PlanSpec pins the single join). Update detection is a
    * NULL-SAFE struct comparison of the two row images (`<=>` over
    * `struct(cols)`): the joined row already carries every column of
    * both sides for the pre/post images, so comparing them directly
    * costs no extra shuffle bytes and is EXACT — unlike a multi-column
    * hash, it cannot collide, and unlike Spark's hash expressions (which
    * skip NULL inputs, leaving the accumulator untouched) it
    * distinguishes (x, null) from (null, x).
    * At 100 TB both version reads are parquet scans and the join
    * shuffles each side once on the key; versions written bucketed on
    * `key` make the diff shuffle-free.
    */
  def changes(spark: SparkSession, table: String, fromV: Long, toV: Long,
              key: String, assertUniqueKey: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    val pre = read(spark, table, Some(fromV))
    val cols = pre.columns.toSeq
    val post = read(spark, table, Some(toV))
    require(post.columns.toSeq == cols,
      s"changes($fromV -> $toV) requires identical schemas, " +
        s"got ${cols.mkString(",")} vs ${post.columns.mkString(",")}")
    if (assertUniqueKey) Seq(fromV -> pre, toV -> post).foreach { case (v, df) =>
      val r = df.agg(count(lit(1)), count_distinct(col(key))).head()
      val (n, d) = (r.getLong(0), r.getLong(1))
      require(n == d,
        s"changes($fromV -> $toV): key '$key' is not unique in v=$v — " +
          s"$n rows over $d distinct non-null keys (${n - d} extra); a " +
          "duplicated key fans out the full-outer join and silently " +
          "multiplies the feed. Deduplicate the version (or pass " +
          "assertUniqueKey = false if the fan-out is intended)")
    }
    def sided(df: DataFrame, side: String) =
      df.select(cols.map(c => col(c).as(s"${side}_$c")): _*)
    val j = sided(pre, "pre").join(sided(post, "post"),
      col(s"pre_$key") === col(s"post_$key"), "full_outer")
    def img(op: String, side: String) =
      struct(lit(op).as("op") +: cols.map(c => col(s"${side}_$c").as(c)): _*)
    def sideStruct(side: String) = struct(cols.map(c => col(s"${side}_$c")): _*)
    val updated = col(s"pre_$key").isNotNull && col(s"post_$key").isNotNull &&
      !(sideStruct("pre") <=> sideStruct("post"))
    j.select(explode(filter(array(
        when(col(s"post_$key").isNull, img("delete", "pre")),
        when(col(s"pre_$key").isNull, img("insert", "post")),
        when(updated, img("update_pre", "pre")),
        when(updated, img("update_post", "post"))), x => x.isNotNull)).as("c"))
      .select("c.*")
  }

  /** q69_cdc — the change-data-feed as an oracle-checked entry: v0 =
    * full customer, v1 = a deterministic mutation (keys ≡0 mod 10
    * deleted, ≡1 re-priced +100, ≡2 cloned into a new-key region), and
    * [[changes]] diffs the two versions. The per-op aggregate (count /
    * key checksum / money sum over both update images) is the pinned
    * contract; the oracle reconstructs each CDC class directly from the
    * mutation rules — proving the one-join diff recovers exactly the
    * applied changes, pre-images included. [oracle]
    */
  def q69_cdc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scratch = java.nio.file.Files.createTempDirectory("graft_q69_")
    val table = scratch.toString + "/cust_snap"
    val c = graft.Tables(spark, dir).customer
    write(c, table) // v0
    val repriced = c.withColumn("c_acctbal",
      when(col("c_custkey") % 10 === 1, col("c_acctbal") + 100)
        .otherwise(col("c_acctbal")))
    // inserted clones go to the NEGATIVE key space: every generated key
    // space is non-negative at every scale factor (ScaleGen shifts by
    // positive per-copy offsets), so the new keys can never collide with
    // a real customer — a positive offset WOULD at sf≥1, where copy
    // k+1's keys start exactly one offset above copy k's
    val v1 = repriced.filter(col("c_custkey") % 10 =!= 0)
      .unionByName(c.filter(col("c_custkey") % 10 === 2)
        .withColumn("c_custkey", -col("c_custkey") - lit(1L)))
    write(v1, table) // v1
    val rows = changes(spark, table, 0L, 1L, "c_custkey")
      .groupBy("op")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_custkey")).cast("long").as("key_sum"),
        round(sum(col("c_acctbal").cast("decimal(18,4)")), 2)
          .cast("double").as("bal_sum"))
      .orderBy("op")
      .collect() // materialize BEFORE the scratch table is deleted
    val f = fs(new Path(scratch.toString))
    f.delete(new Path(scratch.toString), true)
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.toDF("op", "n_rows", "key_sum", "bal_sum")
  }

  /** DuckDB oracle for q69: each CDC class recomputed from the mutation
    * rules themselves.
    */
  val q69_oracle: String =
    """WITH del AS (SELECT * FROM customer WHERE c_custkey % 10 = 0),
      |     upd AS (SELECT * FROM customer WHERE c_custkey % 10 = 1),
      |     ins AS (SELECT * FROM customer WHERE c_custkey % 10 = 2)
      |SELECT 'delete' AS op, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
      |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))),2) AS DOUBLE) AS bal_sum
      |FROM del
      |UNION ALL
      |SELECT 'insert', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(-c_custkey - 1) AS BIGINT),
      |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))),2) AS DOUBLE)
      |FROM ins
      |UNION ALL
      |SELECT 'update_post', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(c_custkey) AS BIGINT),
      |  CAST(ROUND(SUM(CAST(c_acctbal + 100 AS DECIMAL(18,4))),2) AS DOUBLE)
      |FROM upd
      |UNION ALL
      |SELECT 'update_pre', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(c_custkey) AS BIGINT),
      |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))),2) AS DOUBLE)
      |FROM upd
      |ORDER BY op""".stripMargin

  /** q72_incr_agg — incremental view maintenance off the CDC feed: a
    * per-segment aggregate (count + balance sum) materialized at v0 is
    * brought to v1 by applying ONLY [[changes]]' delta — inserts add,
    * deletes subtract, updates subtract the pre-image and add the post-
    * image — never rescanning the base table. The emitted maintained
    * aggregate is hash-checked against the oracle recomputing v1 from
    * scratch: delta-maintenance ≡ full recompute, the contract that
    * lets a 100 TB materialized aggregate refresh at the cost of the
    * day's changes instead of the table. Decimal sums keep the
    * adjustment shuffle-order-independent. [oracle]
    */
  def q72_incr_agg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scratch = java.nio.file.Files.createTempDirectory("graft_q72_")
    val table = scratch.toString + "/cust_snap"
    val c = graft.Tables(spark, dir).customer
    write(c, table) // v0
    val repriced = c.withColumn("c_acctbal",
      when(col("c_custkey") % 10 === 1, col("c_acctbal") + 100)
        .otherwise(col("c_acctbal")))
    val v1 = repriced.filter(col("c_custkey") % 10 =!= 0)
      .unionByName(c.filter(col("c_custkey") % 10 === 2)
        .withColumn("c_custkey", -col("c_custkey") - lit(1L)))
    write(v1, table) // v1
    // the materialized aggregate, built once at v0
    val base = read(spark, table, Some(0L)).groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast("decimal(18,4)")).as("bal"))
    // the day's delta: signed contributions from the CDC feed only
    val sign = when(col("op").isin("insert", "update_post"), lit(1))
      .otherwise(lit(-1)) // delete, update_pre retract
    val delta = changes(spark, table, 0L, 1L, "c_custkey")
      .groupBy("c_mktsegment")
      .agg(sum(sign).cast("long").as("dn"),
        sum(col("c_acctbal").cast("decimal(18,4)") * sign).as("dbal"))
    val rows = base.join(delta, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        round(coalesce(col("bal"), lit(0).cast("decimal(18,4)")) +
          coalesce(col("dbal"), lit(0).cast("decimal(18,4)")), 2)
          .cast("double").as("bal_sum"))
      .orderBy("c_mktsegment")
      .collect() // materialize BEFORE the scratch table is deleted
    val f = fs(new Path(scratch.toString))
    f.delete(new Path(scratch.toString), true)
    rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq.toDF("c_mktsegment", "n", "bal_sum")
  }

  /** DuckDB oracle for q72: the v1 state aggregated FROM SCRATCH — the
    * maintained aggregate must land on exactly this.
    */
  val q72_oracle: String =
    """WITH v1 AS (
      |  SELECT c_mktsegment,
      |    CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100 ELSE c_acctbal END
      |      AS c_acctbal
      |  FROM customer WHERE c_custkey % 10 <> 0
      |  UNION ALL
      |  SELECT c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 10 = 2)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))),2) AS DOUBLE) AS bal_sum
      |FROM v1 GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Compact the current version into ~`targetFileBytes` files and
    * commit the result as the NEXT version — same rows, fewer/right-
    * sized files. Small files are the classic 100 TB scan killer (per-
    * file open + footer read dominates under ~16 MB); because compaction
    * is just another snapshot commit, readers pinned to the old version
    * are untouched and `vacuum` reclaims it later. Returns the new
    * version number.
    */
  def compact(spark: SparkSession, table: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val cur = currentVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot at $table"))
    val vdir = new Path(table, s"v=$cur")
    val bytes = fs(vdir).getContentSummary(vdir).getLength
    val parts = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // repartition (not coalesce): coalesce would fuse the read into too
    // few tasks and serialize the decode; the shuffle is one pass over
    // data that is being rewritten anyway
    write(read(spark, table).repartition(parts), table)
  }

  /** q64_snapshot — the snapshot-table lifecycle as one oracle-checked
    * entry: commit v0 (full nation), publish v1 (a filtered refresh),
    * `compact` the current version into right-sized files AS v2 (same
    * rows — compaction is just another commit), then `vacuum` down to the
    * last two versions. Emitted per version: row count + key checksum
    * read back THROUGH time travel, whether the manifest points at it,
    * and whether its bytes still exist after the vacuum. The oracle
    * recomputes every number from the nation table — proving time-travel
    * reads return exactly the rows each version committed, v0's physical
    * removal, and the pointer landing on the compacted v2. [oracle]
    */
  def q64_snapshot(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scratch = java.nio.file.Files.createTempDirectory("graft_q64_")
    val table = scratch.toString + "/nation_snap"
    val nation = graft.Tables(spark, dir).nation
    write(nation, table) // v0
    write(nation.filter(col("n_regionkey") < 3), table) // v1: refresh
    compact(spark, table, targetFileBytes = 1L << 20) // v2 == v1 rows
    // read each version's stats back through the time-travel API BEFORE
    // the vacuum (v0's bytes are about to be reclaimed)
    def stats(v: Long): (Long, Long) = {
      val r = read(spark, table, Some(v))
        .agg(count(lit(1)), sum(col("n_nationkey").cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val perVersion = (0L to 2L).map(v => v -> stats(v)).toMap
    vacuum(table, keepLast = 2) // reclaims v0 only
    val f = fs(new Path(table))
    val cur = currentVersion(table).getOrElse(-1L)
    val out = (0L to 2L).map { v =>
      val (n, ksum) = perVersion(v)
      (v, n, ksum, cur == v, f.exists(new Path(table, s"v=$v")))
    }.toDF("version", "n_rows", "key_sum", "is_current", "available")
      .orderBy("version")
    // everything above was computed eagerly (stats collects, exists
    // checks) — the scratch lifecycle dir is dead weight now; delete it
    // so repeated bench/verify runs don't accumulate under /tmp
    f.delete(new Path(scratch.toString), true)
    out
  }

  /** DuckDB oracle for q64: every snapshot number recomputed from the
    * source table (v1 and the compacted v2 carry identical rows).
    */
  val q64_oracle: String =
    """WITH full_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
      |                      CAST(SUM(n_nationkey) AS BIGINT) AS s FROM nation),
      |     filt AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
      |                     CAST(SUM(n_nationkey) AS BIGINT) AS s
      |              FROM nation WHERE n_regionkey < 3)
      |SELECT CAST(0 AS BIGINT) AS version, c AS n_rows, s AS key_sum,
      |       FALSE AS is_current, FALSE AS available FROM full_t
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), c, s, FALSE, TRUE FROM filt
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), c, s, TRUE, TRUE FROM filt
      |ORDER BY version""".stripMargin

  /** Drop version directories older than `keepLast` versions behind the
    * current pointer. Explicit, never automatic: readers pinned to an
    * old version keep working until an operator decides otherwise.
    */
  def vacuum(table: String, keepLast: Int): Seq[Long] = {
    val cur = currentVersion(table).getOrElse(return Seq.empty)
    val cutoff = cur - keepLast + 1
    val dir = new Path(table)
    val f = fs(dir)
    val dropped = f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
      .filter(_ < cutoff).sorted
    dropped.foreach(v => f.delete(new Path(table, s"v=$v"), true))
    dropped
  }
}
