package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the synthetic star schema.
  *
  * The reference extracts sources per task config
  * (reference tasks/base.py:609-630 `EtlTask.extract`); here every
  * source is a parquet directory and Catalyst handles column pruning
  * and predicate pushdown into the scan.
  */
object Tables {
  /** Resolved read SCHEMA per table path, with the path's modification
    * time when it was read — metadata only, never data or results:
    * every query still scans the parquet itself at each evaluation.
    * Without it each `spark.read.parquet` re-infers the schema (file
    * listing + footer read + conversion), a measured ~92 ms of
    * driver-side fixed cost PER TABLE REFERENCE (guide §5 "the driver
    * should do almost no data work", §6 listing costs) — the single
    * largest component of the ~170-query sub-second floor. A source
    * rewritten in place under the same path (an overwrite recreates
    * the directory) gets a new modification time, so the next
    * reference re-infers its schema; the check costs one stat per
    * table reference. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, org.apache.spark.sql.types.StructType)]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hp = new org.apache.hadoop.fs.Path(path)
    val mtime = hp.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hp).getModificationTime
    val schema = schemaCache.compute(path, (_, hit) =>
      if (hit != null && hit._1 == mtime) hit else (mtime, spark.read.parquet(path).schema))._2
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  /** `events.ts` normalization — the generator has shipped the column
    * as parquet TIMESTAMP(NANOS) (read as long nanos via
    * spark.sql.legacy.parquet.nanosAsLong) and as TIMESTAMP(MICROS)
    * (read as timestamp, NTZ when isAdjustedToUTC=false). Branch on
    * the type actually read so both vintages land on the same
    * session-UTC microsecond TimestampType column. Oracles use
    * CAST(ts AS TIMESTAMP), which is the identical normalization on
    * the DuckDB side.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      // nanos-as-long: integer division — a double roundtrip would
      // lose ns precision
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType    => raw
      // TIMESTAMP_NTZ: reinterpret the wall-clock in the session tz
      // (pinned UTC in GraftSession) — same instant the generator wrote
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      // any other vintage (string / int seconds / …) has DIFFERENT cast
      // semantics — refuse loudly instead of producing wrong instants
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other — extend the " +
          "normalization deliberately rather than cast blindly")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
