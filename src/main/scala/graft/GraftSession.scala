package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with scale-oriented defaults.
  *
  * The reference (PowerSQL) delegates execution to PostgreSQL/BigQuery
  * (reference: src/execute.rs:21-28); graft owns execution on Spark, so
  * session tuning is part of the engine surface.
  *
  * Local testing runs `local[32]`; on a real cluster the same config
  * holds except `shuffle.partitions` should be ~2-3x total cores — AQE
  * coalesces small partitions either way, so over-provisioning the
  * partition count is safe at 100 TB while under-provisioning is not.
  */
object GraftSession {

  def builder(appName: String = "graft", master: String = "local[32]"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "32")
      // AQE: runtime partition coalescing + skew-join splitting — the
      // mechanism that keeps shuffle-heavy plans healthy at 100x data.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Shuffled-hash-join preference (preferSortMergeJoin=false + the
      // 64 MB AQE SHJ threshold) was measured at TWO decades in r14 and
      // REJECTED: +25% at sf0.1 but ~17% SLOWER at sf1 on the SMJ-planned
      // entries (g2 2.15→2.54 s, s7 1.58→1.76 s, t27 0.34→0.48 s), and
      // SHJ lacks SMJ's graceful spill when a build side is misestimated
      // — the wrong trade at 100 TB. Defaults (sort-merge) stay.
      // Timezone-less parquet timestamps (what pandas/arrow/DuckDB write)
      // read as TIMESTAMP, not TIMESTAMP_NTZ: the engine's event-time
      // operators (unix_micros, window, session_window) are defined over
      // instants, and with a UTC session the two conventions agree on the
      // same micros-since-epoch. Operators additionally cast their time
      // inputs (eventTime/Relational call sites) so they stay correct
      // even under a session that re-enables NTZ inference.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Counts from parquet metadata come from graft.plans.FooterCount
      // (registered by `init`), not spark.sql.parquet.aggregatePushdown:
      // that setting only reaches DataSource V2 scans, and every graft
      // parquet read is a V1 scan.
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)

  /** Session-level extension surface (what `spark.sql.extensions=
    * graft.functions.GraftExtensions` gives a platform-built session):
    * the SQL function registry, the window-top-k auto-rewrite —
    * DEFAULT-ON since round 11 (semantics proven by TopKPerGroupSpec;
    * gated by the QueryGen differential fuzz net, whose window queries
    * keep running green through the rewrite) — and the parquet
    * footer-count rule (parity proven by FooterCountSpec). Idempotent;
    * callers that build their own SparkSession should run this once
    * after creation.
    */
  def init(spark: SparkSession): Unit = {
    graft.functions.GraftFunctions.register(spark)
    graft.plans.TopKPerGroup.enableAutoRewrite(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.FooterCount))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.FooterCount
  }
}

/** Lazy handles on the driver-generated TPC-H-ish tables of one scale
  * factor directory (TESTDATA.md). Plain parquet reads — column pruning
  * and predicate pushdown happen in the scan, so every query should
  * start here rather than from a cached/materialized copy.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  /** Event-time normalization seam: `events.ts` reads as an instant
    * TIMESTAMP regardless of which writer produced the parquet —
    * generators have shipped all three conventions across rounds, and a
    * 100 TB lake ingest cannot dictate its writers:
    *   - ns-precision INT64 timestamps (Spark 4 refuses to read them as
    *     timestamps): read nanos as long (legacy conf) and truncate to
    *     micros — the same ns→us truncation DuckDB applies;
    *   - timezone-less timestamps (pandas/arrow `timestamp[us]`, Spark 4
    *     default-infers TIMESTAMP_NTZ): reinterpreted as instants under
    *     the session zone (UTC) — GraftSession additionally disables NTZ
    *     inference, but the seam holds under foreign sessions too;
    *   - tz'd TIMESTAMP: passthrough.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", raw("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Register a subset of tables as temp views. Registration schedules
    * no job, but it still lists each table's files and reads one footer
    * on the driver — at 100 TB a listing per table — so callers that know
    * their reference set (the model engine does, from the parsed DAG)
    * should register only that.
    */
  def register(names: Iterable[String]): Unit = names.foreach {
    case "events" => events.createOrReplaceTempView("events")
    case n => t(n).createOrReplaceTempView(n)
  }

  /** Register all tables as temp views for SQL-surface entry points. */
  def registerAll(): Unit = register(Tables.SourceNames)
}

object Tables {
  /** The driver-generated source tables (TESTDATA.md). */
  val SourceNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")
}
