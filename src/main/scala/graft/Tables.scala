package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-supplied parquet tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All loaders take the scale-factor directory (e.g. `/root/testdata/sf0.01`)
  * so the same query code runs at every SF. Column pruning / predicate
  * pushdown is left to Catalyst — callers `select`/`filter` and the parquet
  * scan prunes (verified via `explain`: `ReadSchema` / `PushedFilters`).
  */
object Tables {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.ts` has shipped in two physical parquet types across testdata
    * generations: INT64 TIMESTAMP(NANOS) (readable only under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, arriving as epoch-nano
    * bigint) and TIMESTAMP(µs) / TIMESTAMP_NTZ. [[normalizeEvents]] maps
    * either onto one engine-side contract so every consumer is
    * generation-agnostic:
    *  - `ts`    — epoch NANOseconds, bigint (the original engine contract;
    *    all downstream code does integer `ts div 1000`);
    *  - `ts_us` — epoch microseconds. Integer truncation, matching how
    *    DuckDB (the correctness oracle) truncates TIMESTAMP_NS → µs. A
    *    floating-point `ts / 1000` would round (nanos exceed 2^53) and
    *    disagree with the oracle near boundaries;
    *  - `ts_ts` — a proper TimestampType column for `window()` /
    *    `session_window()` (session TZ is UTC).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Every session built through `Engine` sets this at build; the guarded
    // set here covers sessions built elsewhere (shells, other front ends)
    // without re-mutating an already-configured session on every call.
    // Harmless when the files carry a plain timestamp instead of nanos.
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(table(spark, dir, "events"))
  }

  /** See [[events]]. Works on batch and streaming frames alike (pure column
    * ops). The TIMESTAMP_NTZ → TIMESTAMP cast interprets wall-clock in the
    * session time zone, which the engine pins to UTC, so the instant is
    * preserved exactly.
    */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // epoch-nano bigint
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts_ts", timestamp_micros(col("ts_us")))
      case _ => // TIMESTAMP / TIMESTAMP_NTZ at µs precision
        raw.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("ts_ts", timestamp_micros(col("ts_us")))
          .withColumn("ts", col("ts_us") * lit(1000L))
    }

  /** The GlobalKTable stand-in (FIXTURES.md §C): a small, fully-replicated
    * dimension mapping market segment ("profile") → discount factor.
    * Mirrors the reference's `discounts` topic
    * (src/main/scala/KafkaStreamsApp.scala:159-160); replication to every
    * node = `broadcast()` at the join site.
    */
  def discounts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("AUTOMOBILE", 0.05),
      ("BUILDING",   0.10),
      ("FURNITURE",  0.15),
      ("HOUSEHOLD",  0.20),
      ("MACHINERY",  0.25)
    ).toDF("profile", "factor")
  }

  /** SQL literal matching [[discounts]], for the DuckDB oracle. */
  val discountsSql: String =
    "(VALUES ('AUTOMOBILE', 0.05), ('BUILDING', 0.10), ('FURNITURE', 0.15), " +
      "('HOUSEHOLD', 0.20), ('MACHINERY', 0.25)) AS d(profile, factor)"
}
