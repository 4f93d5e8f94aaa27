package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided parquet tables
  * (`/root/testdata/sf*` — see FIXTURES.md §B).
  *
  * `events.ts` has shipped in two physical layouts across testdata
  * generations: parquet TIMESTAMP(NANOS) (read as epoch-nano LongType
  * via the `nanosAsLong` legacy conf) and plain TIMESTAMP(MICROS)
  * (read as a timestamp type). The loader normalizes BOTH to the
  * engine-wide contract — `ts` is epoch-NANOS LongType — so all
  * downstream event-time arithmetic (`ts_us = ts div 1000`) and every
  * DuckDB oracle (`epoch_us(ts)`) see identical microsecond values
  * regardless of which layout the driver generated. The timestamp →
  * long conversion is `unix_micros * 1000`, exact for µs data; the
  * session timezone is pinned UTC by every entrypoint, so NTZ wall
  * clocks convert without offset.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType != LongType) {
      // The cast→unix_micros normalization is only wall-clock-exact
      // for TIMESTAMP_NTZ layouts under a UTC session timezone.
      // Every entrypoint pins UTC by convention; enforce it HERE so
      // a future entrypoint that forgets cannot silently shift every
      // event time by its zone offset (ADVICE r6).
      require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
        "events.ts normalization requires spark.sql.session.timeZone" +
          "=UTC — start the session with SparkEntry.session")
      df.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    } else df
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
