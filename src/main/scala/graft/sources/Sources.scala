package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.StructType

/** Source/sink surface. The reference's "sources" are warehouse tables on
  * the backend (reference: src/execute.rs); graft owns storage I/O, so
  * the formats a pipeline needs are first-class here.
  *
  * Scale rules encoded below:
  *  - always pass an explicit schema for text formats (schema inference
  *    is a full extra pass over 100 TB);
  *  - parquet everywhere it matters — columnar pruning + predicate
  *    pushdown only exist there;
  *  - non-merging parquet schema comes from one footer read on the
  *    driver, never from a job: [[parquet]] is the one whole-dataset
  *    parquet reader, and only [[parquetEvolved]] reads every footer;
  *  - partitioned layout on low-cardinality query keys so partition
  *    pruning can skip files wholesale;
  *  - bucketing on high-cardinality join keys so repeated joins on that
  *    key skip their shuffle entirely.
  */
object Sources {

  /** Whole-dataset parquet read. The schema is the one Spark's
    * non-merging inference would pick, read from one footer on the
    * driver ([[FooterSchema]]): a schema-less `spark.read.parquet`
    * schedules a whole job to read that one footer.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterSchema.infer(spark, path)).parquet(path)

  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema) // never infer: inference is a second full scan
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC — the other columnar format with predicate pushdown + column
    * pruning; interchange with Hive/Trino warehouses that standardized on
    * it. Same scan-level optimizations as parquet in Spark's native
    * vectorized reader.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Hive-style partitioned parquet: directories per key value → partition
    * pruning. Keep partition keys low-cardinality (date, category) or the
    * file count explodes.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Parallel JDBC read: `partitionColumn` + bounds split the table into
    * `numPartitions` range predicates (`col >= lo AND col < hi`) issued
    * as concurrent connections — the only way a JDBC source scales past
    * one reader. Filters still push down per-connection (Spark appends
    * them to each partition's WHERE). Pick bounds from the table's
    * min/max; rows outside them are still read (first/last partitions
    * are unbounded), so the split is safe, just possibly skewed.
    */
  def jdbcPartitioned(
      spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int,
      properties: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, properties)

  /** DYNAMIC partition overwrite: replace ONLY the partitions present in
    * `df`, leave every other partition untouched. The daily-refresh
    * primitive at 100 TB — reprocessing one date must not truncate the
    * table, and a static overwrite (Spark's default) would. Set per-write
    * (option, not session conf) so callers can't clobber each other.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Schema-evolution read: union the schemas of all parquet footers under
    * `path` (columns added by newer writers surface as nulls in old
    * files). Off by default in Spark because footer-merging costs a pass
    * over file metadata — turn it on only at evolution boundaries.
    */
  def parquetEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Audited jsonl read: PERMISSIVE mode routes rows that fail to parse
    * into a `_corrupt_record` column instead of killing the 100 TB job
    * (FAILFAST) or silently dropping them (DROPMALFORMED). Returns
    * (good, corrupt): good rows with data columns, corrupt rows with the
    * raw line preserved for quarantine/replay.
    */
  def jsonLinesAudited(
      spark: SparkSession, path: String,
      schema: StructType): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.StringType
    val withCorrupt = schema.add("_corrupt_record", StringType)
    // persisted (tracked): Spark forbids filtering _corrupt_record on
    // the lazy scan alone, and both outputs read the same scan
    val raw = graft.Caching.persist(spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path))
    val good = raw.filter(raw.col("_corrupt_record").isNull).drop("_corrupt_record")
    val corrupt = raw.filter(raw.col("_corrupt_record").isNotNull)
      .select("_corrupt_record")
    (good, corrupt)
  }

  /** MERGE-style upsert (incremental refresh): rows in `updates` replace
    * same-key rows in `base`; new keys append. The anti join is the only
    * wide stage and it shuffles on the merge key — with base and updates
    * bucketed on that key it is shuffle-free. This is the refresh
    * primitive an incremental model materialization uses when only a
    * key-slice of a 100 TB table changed (vs a5's whole-branch rebuild).
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    base.join(updates.select(key).distinct(), Seq(key), "left_anti")
      .unionByName(updates)

  /** Shared money-aggregation discipline (SURVEY §4): decimal sum is
    * shuffle-order-independent, the rounded double is the same
    * nearest-double on both engines.
    */
  private def moneySum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    round(sum(c.cast("decimal(18,4)")), 2).cast("double")
  }

  /** q67_upsert — the MERGE-style refresh primitive as an oracle-checked
    * entry: a deterministic change set (every 10th order re-priced with
    * status U; every 1000th order re-keyed into a new-key region with
    * status N) upserts into the orders table, and the merged result is
    * aggregated per status. The oracle reconstructs the identical merge
    * with NOT IN + UNION ALL — proving [[upsert]]'s anti-join+union is
    * exactly MERGE semantics (update existing keys, insert new ones).
    * Scale shape: the anti join is the only wide stage, shuffling on the
    * merge key once (bucketed base+updates make it shuffle-free). [oracle]
    */
  def q67_upsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = graft.Tables(spark, dir).orders
    val mutated = o.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = o.filter(col("o_orderkey") % 1000 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(20000000L))
      .withColumn("o_orderstatus", lit("N"))
    upsert(o, mutated.unionByName(fresh), "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** DuckDB oracle for q67: the same merge as set algebra. */
  val q67_oracle: String =
    """WITH updates AS (
      |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey + 20000000, 'N', o_totalprice
      |  FROM orders WHERE o_orderkey % 1000 = 0
      |), merged AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      |  UNION ALL SELECT * FROM updates
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue
      |FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q70_format_roundtrip — the interchange-format readers promoted to
    * an oracle-checked entry: a lineitem slice is exported to CSV and an
    * orders slice to JSONL, both are read BACK through [[csv]] /
    * [[jsonLines]] (explicit schema, never inference), joined and
    * aggregated. The oracle computes the same aggregate straight from
    * the parquet tables — so a pass proves the whole
    * write→serialize→parse→read cycle is LOSSLESS for every type the
    * slice carries (int64 keys, doubles, strings, timestamps): any
    * formatting/parsing asymmetry in either format changes the hash.
    * Scale shape: format conversion is embarrassingly parallel (one
    * task per file, no shuffle); the join aggregates after, as usual.
    * [oracle]
    */
  def q70_format_roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val scratch = java.nio.file.Files.createTempDirectory("graft_q70_")
    val t = graft.Tables(spark, dir)
    val liSlice = t.lineitem.select("l_orderkey", "l_quantity", "l_shipdate")
    val ordSlice = t.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    // (r14 note: a pre-write round-robin repartition was A/B'd and came
    // out NEUTRAL at sf0.1 — the CSV/JSONL serialization is not this
    // entry's bottleneck — while at scale the scan already parallelizes
    // and the exchange would shuffle the whole slice for nothing. Writes
    // stay on the scan's partitioning.)
    liSlice.write.option("header", "true").csv(s"$scratch/li_csv")
    ordSlice.write.json(s"$scratch/ord_jsonl")
    val li = csv(spark, s"$scratch/li_csv", liSlice.schema)
    val ord = jsonLines(spark, s"$scratch/ord_jsonl", ordSlice.schema)
    val rows = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_quantity")).as("qty_sum"),
        moneySum(col("o_totalprice")).as("revenue"),
        max(to_date(col("l_shipdate"))).as("last_ship"))
      .orderBy("o_orderstatus")
      .collect() // materialize BEFORE the scratch exports are deleted
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(scratch.toFile)
    rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDate(4)))
      .toSeq.toDF("o_orderstatus", "n_items", "qty_sum", "revenue", "last_ship")
  }

  /** DuckDB oracle for q70: the same join/aggregate straight off the
    * parquet tables — round-tripping through CSV+JSONL must not change
    * a single value.
    */
  val q70_oracle: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))),2) AS DOUBLE) AS qty_sum,
      |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue,
      |  CAST(MAX(l_shipdate) AS DATE) AS last_ship
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** q68_bucketed_join — the co-located fact⋈fact join as an
    * oracle-checked entry: orders and lineitem are written as BUCKETED
    * tables on the join key (8 buckets, sorted), then joined and
    * aggregated. With both sides bucketed the same way the join reads
    * co-located buckets and plans NO shuffle exchange (PlanSpec pins
    * that) — the pre-partitioning strategy that amortizes the shuffle of
    * a repeating 100 TB fact join into the write path, once. The oracle
    * is the plain join in DuckDB: bucketing must change the plan, never
    * the result. [oracle] + PlanSpec
    */
  def q68_bucketed_join(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = graft.Tables(spark, dir)
    writeBucketed(t.orders.select("o_orderkey", "o_orderpriority"),
      "q68_orders_b", "o_orderkey", 8)
    writeBucketed(
      t.lineitem.select(col("l_orderkey"), col("l_extendedprice"))
        .withColumnRenamed("l_orderkey", "o_orderkey"),
      "q68_lineitem_b", "o_orderkey", 8)
    // merge hint pins the sort-merge strategy so what the entry measures
    // is bucketing removing the shuffle, not the optimizer broadcasting
    // a small-SF side (at 100 TB neither side broadcasts)
    spark.table("q68_lineitem_b")
      .join(spark.table("q68_orders_b").hint("merge"), Seq("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** DuckDB oracle for q68: the same join unbucketed. */
  val q68_oracle: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Bucketed + sorted table: rows are hash-distributed into `buckets`
    * files by `bucketCol` at write time. Joins/aggregations on that key
    * then read co-located data and skip the shuffle — the pre-partitioning
    * strategy for fact⋈fact joins that repeat every pipeline run.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // a location orphaned by a previous session (table gone from the
    // catalog, files still on disk) blocks managed-table creation
    val loc = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
    df.write
      .mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }
}
