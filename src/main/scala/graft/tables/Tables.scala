package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet-backed table catalog for the synthetic TPC-H-ish star schema
  * (see /root/repo/TESTDATA.md).
  *
  * In the reference (seaserpent/base.py:61 `Table.__init__`) a "table" is a
  * remote SeaTable entity reached over HTTP; here a table is a parquet scan
  * whose filters/projections Catalyst pushes into the reader — the zero-copy
  * Spark-native analog of the reference's "SQL is executed server-side".
  *
  * Scale note: at 100 TB these readers are the only data entry point, so all
  * operators downstream inherit partition pruning / predicate pushdown from
  * the scan. No collect(), no driver-side materialization here.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // raw SQL over these scans (registerViews, the Table.query analog)
    // resolves graft functions by name, so the catalog fills the session's
    // registry (idempotent); Column handles need no registration
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    * reader rejects; read nanos as long (legacy conf) and convert to a
    * microsecond TimestampType with integer division (ns values exceed
    * 2^53, so a double division would corrupt them). Truncation toward
    * zero matches DuckDB's ns→µs cast for post-1970 data. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // newer readers ignore nanosAsLong and surface TIMESTAMP(NANOS)
        // as a micros-truncated TIMESTAMP_NTZ; ops downstream use
        // unix_micros, which requires TimestampType — cast NTZ → TZ.
        // The cast is only epoch-correct when the session zone is UTC.
        // Every session this library owns (Verify/Bench/PlanAudit/specs)
        // pins it, but this is a public entry point: a caller-built
        // session in another zone would silently shift every epoch, so
        // pin the conf here too (session-wide, like nanosAsLong above —
        // timestamps in this library are UTC by contract).
        s.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view (analog of the reference's
    * `Table.query` raw-SQL path, base.py:1616). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
