package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md). */
object Tables {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.util.TinyParquet.openStore(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  /** events.parquet's `ts` physical type has drifted across driver
    * testdata generations: TIMESTAMP(NANOS) (unreadable by Spark's
    * parquet reader without nanosAsLong), then TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (read as TimestampNTZ). Branch on the
    * schema Spark actually infers so every generation yields the same
    * TimestampType `ts` column downstream.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, d, "events")
    df.schema("ts").dataType match {
      // nanos-as-long: integer division (double division loses precision above 2^53)
      case LongType        => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _               => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
