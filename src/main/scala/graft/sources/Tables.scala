package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness's parquet tables.
  *
  * One parquet file per table under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst keeps full pushdown/pruning
  * freedom; no schema is forced (the files carry it), but accessors
  * exist per table so call sites stay typo-safe.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The events table's `ts` physical type has varied across harness
    * data generations — TIMESTAMP(NANOS) (read as raw longs via
    * spark.sql.legacy.parquet.nanosAsLong, which only the GraftSession
    * factory sets),
    * micros with isAdjustedToUTC=false (read as TIMESTAMP_NTZ), or a
    * true UTC-adjusted timestamp. Normalize all three to session-tz
    * TimestampType so every consumer (unix_micros arithmetic, window
    * functions, the gate's epoch-micros canonicalization) sees one
    * type. Sessions pin spark.sql.session.timeZone=UTC, so the
    * NTZ→LTZ cast is value-preserving and the gate's epoch micros
    * equal the oracle's epoch_us over the same naive values. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", raw.col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
