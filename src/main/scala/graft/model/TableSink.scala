package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Materialization target for `CREATE TABLE` models: write the model's
  * result, then hand back a frame READING the materialized copy (so
  * downstream models consume the stored table, not the live plan —
  * lineage is cut at every materialization boundary).
  *
  * The reference's whole purpose is landing models in an external
  * warehouse (reference: src/execute.rs:52-76 PostgreSQL, :175-180
  * BigQuery); `TableSink.jdbc` is that surface on Spark's public
  * `DataFrameWriter.jdbc`, while `TableSink.parquet` is the lakehouse
  * default.
  */
trait TableSink {
  def materialize(spark: SparkSession, name: String, df: DataFrame): DataFrame
}

object TableSink {

  /** Parquet warehouse: one directory per table model. `run`,
    * `runIncremental` and `seed` all write through it. The read-back
    * supplies the schema just written (`readBack`), so registering the
    * materialized copy never pays a footer-inference pass: at warehouse
    * scale that is a listing + footer read per model per run (guide §6),
    * and locally one scheduler job each.
    */
  def parquet(warehouse: String): TableSink = new TableSink {
    override def materialize(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
      val path = s"$warehouse/$name"
      df.write.mode("overwrite").parquet(path)
      readBack(spark, path, df.schema)
    }
    override def toString: String = s"TableSink.parquet($warehouse)"
  }

  /** Re-read a parquet table just written from a frame of `schema`. The
    * read supplies that schema made nullable (Spark's file-source read
    * convention), so it schedules no footer-inference job. The one place
    * the model layer decides how a written table is re-read.
    */
  private[model] def readBack(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(asNullable(schema).asInstanceOf[StructType]).parquet(path)

  /** Every field, element and value nullable, recursively
    * (StructType.asNullable is private[spark]; this is its public twin).
    */
  private def asNullable(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case at: ArrayType => at.copy(elementType = asNullable(at.elementType), containsNull = true)
    case mt: MapType => mt.copy(keyType = asNullable(mt.keyType),
      valueType = asNullable(mt.valueType), valueContainsNull = true)
    case other => other
  }

  /** JDBC warehouse: each table model becomes a database table
    * (overwritten per run, the reference's refresh semantics —
    * src/execute.rs:56-60 drops and recreates). Works against anything
    * with a JDBC driver on the classpath; specs exercise it with
    * embedded Derby.
    */
  def jdbc(url: String, properties: java.util.Properties = new java.util.Properties()): TableSink =
    new TableSink {
      override def materialize(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
        df.write.mode("overwrite").jdbc(url, name, properties)
        spark.read.jdbc(url, name, properties)
      }
      override def toString: String = s"TableSink.jdbc($url)"
    }

  /** JDBC warehouse with WAREHOUSE-PARITY refresh semantics (reference:
    * src/execute.rs:77-111): before each model lands, the dialect drops
    * any previous object of that name INCLUDING DEPENDENT VIEWS
    * (PostgreSQL: `DROP VIEW/TABLE IF EXISTS "name" CASCADE`), then the
    * frame is written into a freshly-created table. This is what lets a
    * real warehouse — where analysts build views on top of models —
    * keep refreshing; Spark's own Overwrite mode issues a bare
    * `DROP TABLE` that PG refuses once anything depends on the table.
    * Identifiers are quoted throughout (mixed-case model names
    * round-trip), and Spark's per-database `JdbcDialect` supplies the
    * column type mapping (decimals → NUMERIC(p,s), strings → TEXT on
    * PG) when it creates the table.
    */
  def jdbc(url: String, properties: java.util.Properties,
           dialect: WarehouseDialect): TableSink =
    new TableSink {
      override def materialize(spark: SparkSession, name: String, df: DataFrame): DataFrame = {
        Option(properties.getProperty("driver"))
          .foreach(Class.forName(_).getDeclaredConstructor()) // load driver
        val conn = java.sql.DriverManager.getConnection(url, properties)
        try dialect.dropCascade(conn, name) finally conn.close()
        val table = dialect.quoteIdentifier(name)
        // Append after our explicit drop: the table never exists here, so
        // Spark CREATEs it (dialect-mapped column types) and loads — our
        // drop owns the refresh semantics, not DataFrameWriter's
        df.write.mode("append").jdbc(url, table, properties)
        spark.read.jdbc(url, table, properties)
      }
      override def toString: String = s"TableSink.jdbc($url, $dialect)"
    }
}
