package graft.sources

import java.io.IOException

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Typed readers for the test star schema + documents/embeddings/events.
  *
  * Every engine-side parquet read goes through [[parquet]], so Catalyst
  * drives predicate pushdown and column pruning from whatever the query
  * above selects — readers must never `.cache()` or materialize
  * eagerly: at 100 TB the scan has to stay lazy so partition pruning /
  * pushed filters reach the source.
  *
  * Plain `spark.read.parquet` would infer the schema with one Spark job
  * that reads one footer (about 85 ms a load at sf0.01 on 4 cores, 7 per
  * statements build). [[parquet]] reads that same footer on the driver
  * instead and hands the schema to the reader, so a `load` runs no Spark
  * job; the scan is the one Spark would have built.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema resolved on the driver.
    * Spark's own inference (no schema merging) reads one footer:
    * `_common_metadata`, else `_metadata`, else the first data file in
    * path order, after its hidden-file rules. This reads the same footer
    * (summary files are looked for at the root, where parquet writers
    * put them) and converts it with Spark's converter under the session's
    * settings (e.g. `spark.sql.legacy.parquet.nanosAsLong`). With schema
    * merging or `ignoreCorruptFiles` on, or no readable footer (missing
    * path, no data file, corrupt footer), it defers to
    * `spark.read.parquet`, so Spark's merge behaviour and errors are
    * unchanged. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || conf.ignoreCorruptFiles) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val summaries = Seq("_common_metadata", "_metadata")
    // depth-first, listing only until the first data file; a directory
    // sorts as "name/", so "a/x" follows "a-b" as in a sort of full paths
    def firstData(entries: Array[FileStatus]): Option[FileStatus] =
      entries.filterNot(s => hidden(s.getPath.getName) || summaries.contains(s.getPath.getName))
        .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)
        .iterator
        .flatMap(s => if (s.isDirectory) firstData(fs.listStatus(s.getPath)) else Some(s))
        .nextOption()
    val top = try fs.listStatus(root) catch { case _: IOException => Array.empty[FileStatus] }
    summaries.flatMap(n => top.find(_.getPath.getName == n)).headOption
      .orElse(firstData(top))
      .flatMap { f =>
        Try(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath,
            ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)),
          new ParquetToSparkSchemaConverter(conf))).toOption
      }
  }

  /** Spark's rule for names its file listing skips: `_`/`.` prefixes
    * (except partition directories and the summary files) and in-flight
    * `._COPYING_` copies. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith("_common_metadata") && !name.startsWith("_metadata")

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
