package graft

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * All queries take `sfDir` so the driver can point them at any scale
  * factor; nothing here caches across sessions.
  */
object Tables {
  /** Parquet timestamps in the driver testdata carry
    * isAdjustedToUTC=false, which Spark 4 reads as TIMESTAMP_NTZ
    * (spark.sql.parquet.inferTimestampNTZ.enabled defaults true) while
    * DuckDB treats the same values as plain timestamps. Coerce NTZ
    * columns to TIMESTAMP_LTZ at the loader boundary: under the
    * session's pinned UTC zone the cast is value-identical, and every
    * downstream operator (unix_micros, window(), watermarking) sees the
    * one timestamp type the whole surface was built against. */
  private def ltz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.TimestampNTZType
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else df.withColumns(
      ntz.map(f => f.name -> col(f.name).cast("timestamp")).toMap)
  }

  /** The schema `spark.read.parquet(path)` infers, derived on the
    * driver. Spark's inference (`ParquetUtils.inferSchema`) reads its
    * footers inside a one-task job; this follows the same rule with no
    * job: list the leaves with Spark's file index (same hidden-file
    * rules), sort them by path, read `_common_metadata`, else
    * `_metadata`, else the first data file — or, under
    * `spark.sql.parquet.mergeSchema`, every leaf merged in leaf order —
    * and convert each footer with the converter flags Spark's inference
    * takes from the session (nanosAsLong, inferTimestampNTZ, ...). */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val leaves = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = leaves.filter(_.getPath.getName == n)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val summary = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val data = leaves.diff(common ++ summary)
    val touch =
      if (conf.isParquetSchemaMergingEnabled) data ++ summary ++ common
      else (common ++ summary ++ data).take(1)
    if (touch.isEmpty)
      throw new FileNotFoundException(s"Tables.load: no parquet file under $path")
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val hadoopConf = spark.sessionState.newHadoopConf()
    touch.map { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
    }.reduceLeft(PlanBridge.mergeSchemas(_, _, conf.caseSensitiveAnalysis))
  }

  /** Reads with the footer-derived schema as a user schema, so a load
    * starts no Spark job (`spark.read.parquet` infers it in one). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    ltz(spark.read.schema(footerSchema(spark, path)).parquet(path))
  }

  /** events.parquet carries INT64 TIMESTAMP(NANOS) which the vectorized
    * parquet reader rejects; read it as raw nanos and floor-convert to a
    * microsecond timestamp (matches DuckDB's ns value truncated to us).
    */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // Every graft-owned session (Session.builder, used by Verify,
    // Bench, the probes and SparkSpec; Smoke) pre-sets this flag, so
    // shared-session behavior never depends on whether an events query
    // ran first; this set is the idempotent shim for CALLER-owned
    // sessions feeding nanos-era events parquet through Tables.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
