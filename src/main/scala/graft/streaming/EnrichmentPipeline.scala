package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.functions.Enrichment
import graft.streaming.Reliability._

/** The reference's scenario topology (scenario.dot: source → enricher
  * fan-out → transform → store, with retry/DLQ/ack) as ONE Structured
  * Streaming program — the artifact all four reference variants were
  * trying to build (SURVEY.md §3).
  *
  * Mapping:
  *  - S1 interval source → `rate` source projected to Data(id, value)
  *  - J1 3-way fan-out/fan-in → a single Project (pure enrichers)
  *  - E8 fallible stage → error-as-value struct via
  *    [[Reliability.fallible]] when a failure-injecting service is
  *    plugged in (tests mirror Services.scala:100-121)
  *  - E6 DLQ → per-batch split, both sinks written in the same
  *    `foreachBatch` (atomic with the offset commit) from ONE
  *    evaluation of the batch: it is persisted before the split, so
  *    the fallible service runs once per row and the ok and DLQ sinks
  *    read the same outcome. Evaluating it once per sink instead lets
  *    a service whose calls disagree (fails, then succeeds) place a row
  *    in neither sink, or in both — a lost or duplicated message
  *    behind an acked batch
  *  - K3 ack → checkpoint commit after the batch's writes succeed;
  *    crash before commit ⇒ replay ⇒ at-least-once, exactly the
  *    README.md:13-17 contract
  *  - E3/E4 retry → [[Reliability.retry]] around the sink writes
  *    (temporary infra failures), batch replay for anything worse; a
  *    retried write re-reads the persisted batch and calls the
  *    service no more times.
  *
  * DLQ rule: a failed service call dead-letters its row, whether the
  * failure is temporary or not — nothing is retried inside the row
  * (the row-level retry is [[Reliability.fallibleWithRetry]], not
  * plugged in here). The DLQ row carries the error class and message.
  *
  * Idempotence: writes go to `batchId=`-suffixed directories with
  * overwrite mode, so a replayed batch overwrites rather than
  * duplicates — effectively-once output on top of at-least-once
  * processing.
  */
object EnrichmentPipeline {
  /** S1/P5: tick source → Data(id, value) rows. */
  def rateSource(spark: SparkSession, rowsPerSecond: Int = 1): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("value").as("id"),
        concat(lit("Input Data: "), col("value")).as("value"))

  /** The enrichment projection (P1-P4/P6, J1-collapsed): adds the
    * nested OutputData struct next to the flat input columns. */
  def enrich(in: DataFrame): DataFrame =
    in.select(col("id"), col("value"),
      Enrichment.outputData(col("id"), col("value")).as("out"))

  /** Enrichment with a fallible external transformer plugged into the
    * P4 slot (error-as-value; `svc` may throw). */
  def enrichFallible(in: DataFrame, svc: String => String): DataFrame = {
    val lifted = fallible(svc)
    in.select(col("id"), col("value"),
        Enrichment.enriched(col("id"), col("value")).as("data"),
        lifted(col("value")).as("res"))
      .select(col("id"), col("value"), col("data"),
        col("res.value").as("additional"), col("res.error").as(ErrorCol))
  }

  /** Full reliable pipeline: source → enrich → dual-sink foreachBatch
    * with retry + DLQ + checkpoint ack. */
  def start(
      source: DataFrame,
      okPath: String,
      dlqPath: String,
      checkpointPath: String,
      svc: String => String = identity,
      maxRetries: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    enrichFallible(source, svc).writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one evaluation per row feeds both sinks (see E6 above)
        batch.persist()
        try {
          val (ok, dlq) = Reliability.split(batch)
          retry(maxRetries) {
            ok.drop(ErrorCol).write.mode("overwrite")
              .parquet(s"$okPath/batchId=$batchId")
          }
          retry(maxRetries) {
            dlq.select(col("id"), col("value"),
                col(s"$ErrorCol.clazz").as("error_class"),
                col(s"$ErrorCol.msg").as("error_msg")).write.mode("overwrite")
              .parquet(s"$dlqPath/batchId=$batchId")
          }
        } finally batch.unpersist()
        // returning normally = offset commit = ack (K3); DLQ'd rows are
        // acked too (Either-variant semantics, SURVEY.md §3.3 note)
        ()
      }
      .start()
}
