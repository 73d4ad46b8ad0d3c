package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Typed readers for the test star schema + documents/embeddings/events.
  *
  * Plain `spark.read.parquet` so Catalyst drives predicate pushdown and
  * column pruning from whatever the query above selects — readers must
  * never `.cache()` or materialize eagerly: at 100 TB the scan has to
  * stay lazy so partition pruning / pushed filters reach the source.
  *
  * Lazy is not free: each `load` resolves the source and runs one Spark
  * job to read the parquet footer for the schema — about 0.1 s per load
  * at sf0.01 on 4 cores, paid again by every call. Plan builders should
  * therefore load each table once per plan and share the frame between
  * branches (as [[graft.kg.Triples.statements]] does).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** `events.ts` has shipped in three parquet encodings over time; normalize
    * all of them to a µs `TimestampType` so downstream `unix_micros`/window
    * code sees one type regardless of which generator wrote the data:
    *
    *  - `TIMESTAMP(NANOS)` → read as a nanos long under
    *    `spark.sql.legacy.parquet.nanosAsLong`; floor-divide to µs
    *    (matching DuckDB's ns→µs cast).
    *  - `TIMESTAMP(isAdjustedToUTC=false, MICROS)` → Spark reads
    *    TIMESTAMP_NTZ; cast to TimestampType. The session timezone is
    *    pinned UTC (GraftSession), so the cast reinterprets the wall-clock
    *    µs value unchanged and is deterministic across machines.
    *  - `TIMESTAMP(isAdjustedToUTC=true, MICROS)` → already TimestampType. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
