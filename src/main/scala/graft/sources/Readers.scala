package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.PrimaryData

/** File-source readers (reference S1/S2 —
  * offline_store_spark_runner.py:1036-1053). All reads are declarative
  * `spark.read` so Catalyst gets pushdown + pruning; `recursiveFileLookup`
  * mirrors the reference, `ignoreCorruptFiles` is NOT set by default (we want
  * hard failures, the reference's silent-skip is a data-loss footgun at 100 TB —
  * opt in via the options map if needed).
  */
object Readers {

  def readPrimary(spark: SparkSession, p: PrimaryData): DataFrame = p.format match {
    case "parquet" => parquet(spark, p.path)
    case "csv"     => csv(spark, p.path, header = p.csvHeader)
    case "json"    => spark.read.option("recursiveFileLookup", "true").json(p.path)
    case "orc"     => orc(spark, p.path)
    case other     => throw new IllegalArgumentException(s"unsupported format $other")
  }

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(path)

  /** ORC scan — the other columnar lake format Spark reads natively
    * (vectorized, predicate pushdown); same recursive-dir convention. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").orc(path)

  def csv(spark: SparkSession, path: String, header: Boolean = true,
          inferSchema: Boolean = true): DataFrame =
    spark.read
      .option("header", header.toString)
      .option("inferSchema", inferSchema.toString)
      .option("recursiveFileLookup", "true")
      .csv(path)

  /** Convenience: read one of the harness tables from an sf directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Parquet scan that reads every naive (TIMESTAMP_NTZ) column as a
    * TIMESTAMP instant: the column's raw micros become epoch-UTC micros at
    * the scan, in any session time zone — DuckDB's reading of naive
    * parquet timestamps. A `cast("timestamp")` after the scan would instead
    * convert each row from the session zone (a per-row `convertTz`, and
    * shifted instants in a non-UTC session). The re-read with an explicit
    * schema launches no job beyond the plain read's schema inference. */
  def parquetAsInstants(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(path)
    if (!df.schema.exists(_.dataType == TimestampNTZType)) df
    else spark.read.schema(StructType(df.schema.map(f =>
      if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType) else f)))
      .parquet(path)
  }

  /** The harness `events` table with `ts` as a micros TIMESTAMP instant
    * regardless of how the file encodes it:
    *  - INT64 NANOS (read as raw long under `nanosAsLong`): integer-divide
    *    to micros — the truncation DuckDB's `CAST(ts_ns AS TIMESTAMP)`
    *    applies;
    *  - micros TIMESTAMP_NTZ (plain parquet timestamp): read as an
    *    instant at the scan ([[parquetAsInstants]]).
    * Testdata snapshots have shipped both encodings across rounds. */
  def eventsNormalized(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquetAsInstants(spark, s"$sfDir/events.parquet")
    if (df.schema("ts").dataType != org.apache.spark.sql.types.LongType) df
    else df.withColumn("ts",
      org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
  }
}
