package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * All tables are read straight from parquet so Catalyst gets native
  * vectorized scans with predicate pushdown and column pruning; at
  * cluster scale the same call works on a directory of many files.
  * Dimension tables (region/nation/supplier/part) are small enough to
  * broadcast at any scale factor — query code marks them with
  * `broadcast(...)` at the join site rather than here, so the hint sits
  * next to the join it affects.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Modification time of `$d/$table.parquet` in ms, the key the
    * per-dataset index caches rebuild on. None on a failed stat —
    * [[graft.operators.IndexCache.getOrBuild]] then reuses the live
    * entry instead of evicting a healthy index over a transient
    * filesystem error. */
  def mtime(d: String, table: String): Option[Long] =
    try Some(java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$d/$table.parquet")).toMillis)
    catch { case _: java.io.IOException => None }

  /** The read fixups a table needs on top of its raw parquet schema,
    * shared by the batch loaders and the streaming replays
    * ([[graft.operators.StreamOps]]). Only `events` has one:
    * `events.ts` has shipped in two encodings across testdata
    * generations, so dispatch on the read schema rather than assuming:
    *
    *  - TIMESTAMP(NANOS) in-file — Spark's parquet reader rejects it
    *    unless `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *    [[graft.GraftSession]]), which surfaces it as a LONG of raw
    *    nanos. Convert with *integer* division (`div`) — `/` on
    *    Columns is double division and int64 nanos (~1.7e18) exceed
    *    double's 2^53 exact range.
    *  - TIMESTAMP(MICROS) in-file — read natively as TimestampNTZ (or
    *    Timestamp with int96/ltz metadata); just cast to the session
    *    TimestampType. The session timezone is pinned to UTC, so the
    *    NTZ→LTZ cast is an identity on the underlying micros. */
  def decode(table: String, raw: DataFrame): DataFrame =
    if (table != "events") raw
    else raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }

  def events(s: SparkSession, d: String): DataFrame =
    decode("events", load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
