package graft

import java.io.IOException
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.streaming.EnrichmentPipeline

/** Services whose answer for a value changes from call to call — the
  * non-deterministic failures the reference's `sometimes` service
  * produces (Services.scala:100-121). A top-level object, so every task
  * of the local-mode executor counts into the same call ledger. */
object FlakyServices {
  val calls = new ConcurrentHashMap[String, AtomicInteger]()

  private def callNo(v: String): Int =
    calls.computeIfAbsent(v, _ => new AtomicInteger()).incrementAndGet()

  /** The first call for each value fails (temporary), later calls
    * succeed. */
  def firstCallFails(v: String): String =
    if (callNo(v) == 1) throw new IOException(s"cold start: $v")
    else s"stored $v"

  /** Seeded 30% failures, half temporary and half unrecoverable, keyed
    * on a hash of (value, call number), so a second evaluation of a
    * row gets an independent answer. */
  def seededFlaky(v: String): String = {
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$v#${callNo(v)}", 7)
    val r = (h & 0x7fffffff) / 2147483648.0
    if (r < 0.15) throw new IOException(s"timeout: $v")
    else if (r < 0.3) throw new IllegalArgumentException(s"invalid $v")
    else s"stored $v"
  }
}

/** End-to-end reliable pipeline (SURVEY.md §7 minimum slice, with the
  * error routing the Rx variant famously lacked): file source →
  * enrichment → fallible transform → dual sink (ok + DLQ) →
  * checkpoint ack. Asserts the README.md:13-17 contract: no message
  * lost, invalid messages dead-lettered AND acked, restart from
  * checkpoint reprocesses nothing already committed. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic unrecoverable failure on ids ending in 7 —
    * Services.scala:100-111's `sometimes`, made seeded/scripted. */
  private val svc: String => String = { s =>
    val id = s.split(": ").last.toLong
    if (id % 10 == 7) throw new IllegalArgumentException(s"invalid $id")
    s"stored $id"
  }

  test("pipeline routes ok rows to sink, invalid rows to DLQ, acks all") {
    val in = tmpDir("pipe-in"); val ok = tmpDir("pipe-ok")
    val dlq = tmpDir("pipe-dlq"); val cp = tmpDir("pipe-cp")
    (0L until 20L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("overwrite").parquet(in)

    val source = spark.readStream
      .schema("id LONG, value STRING").parquet(in)
    val q = EnrichmentPipeline.start(source, ok, dlq, cp, svc)
    q.awaitTermination()

    val okRows = spark.read.parquet(ok)
    val dlqRows = spark.read.parquet(dlq)
    assert(okRows.count() == 18)
    assert(dlqRows.count() == 2)
    assert(dlqRows.select("id").as[Long].collect().sorted.toSeq ==
      Seq(7L, 17L))
    assert(dlqRows.select("error_class").distinct().as[String].head() ==
      "java.lang.IllegalArgumentException")
    // enrichment content correct on the ok path
    val r = okRows.filter(col("id") === 4L)
      .select("data.extra1", "data.extra2", "additional")
      .as[(String, String, String)].head()
    assert(r == (("4 :ataD tupnI", "INPUT DATA: 4", "stored 4")))
    // ok + dlq account for every input: nothing lost (README.md:13)
    assert(okRows.count() + dlqRows.count() == 20)

    // ack semantics: restarting on the same checkpoint must process
    // nothing new (offsets committed = acked)
    val q2 = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      ok, dlq, cp, svc)
    q2.awaitTermination()
    assert(spark.read.parquet(ok).count() == 18, "no duplicate outputs")

    // new data after restart IS processed (stream continues); ids
    // 20..26 include 27? no — 20..26, with 27 absent; only id 27
    // would DLQ, so add 25..27 to cover both paths
    (20L until 28L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("append").parquet(in)
    val q3 = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      ok, dlq, cp, svc)
    q3.awaitTermination()
    assert(spark.read.parquet(ok).count() == 25) // 18 + 7 (27 -> dlq)
    assert(spark.read.parquet(dlq).count() == 3) // 7, 17, 27
  }

  test("S1 rate source feeds the pipeline: live micro-batches produce rows") {
    import org.apache.spark.sql.streaming.Trigger
    val src = EnrichmentPipeline.rateSource(spark, rowsPerSecond = 100)
    assert(src.isStreaming)
    assert(src.columns.toSeq == Seq("id", "value"))
    val q = EnrichmentPipeline.enrich(src)
      .writeStream.format("memory").queryName("rate_demo")
      .outputMode("append").trigger(Trigger.ProcessingTime(200)).start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.table("rate_demo").isEmpty &&
          System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(100)
      }
      val rows = spark.table("rate_demo")
        .select("id", "value", "out.data.extra1")
        .as[(Long, String, String)].collect()
      assert(rows.nonEmpty, "rate source produced no rows in 30s")
      val (id, v, rev) = rows.minBy(_._1)
      assert(v == s"Input Data: $id")
      assert(rev == v.reverse)
    } finally q.stop()
  }

  test("temporary sink failures are retried within the batch (E3)") {
    val in = tmpDir("r-in"); val ok = tmpDir("r-ok")
    val dlq = tmpDir("r-dlq"); val cp = tmpDir("r-cp")
    (0L until 5L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .write.mode("overwrite").parquet(in)
    // flaky *service* with temporary failures that succeed on retry
    // happens at row level via fallibleWithRetry — here we assert the
    // sink-level retry combinator drives a flaky write to success
    var failures = 2
    val flakyWrite: String => String = { s =>
      if (failures > 0) { failures -= 1; throw new IOException("sink down") }
      s
    }
    graft.streaming.Reliability.retry(3)(flakyWrite("x"))
    assert(failures == 0)
    val q = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING").parquet(in),
      ok, dlq, cp)
    q.awaitTermination()
    assert(spark.read.parquet(ok).count() == 5)
    assert(spark.read.parquet(dlq).count() == 0)
  }

  /** Drains 120 rows in 3 micro-batches through `svc` and checks the
    * delivery ledger: every id in exactly one sink, and one service
    * call per row. Returns the DLQ'd ids. */
  private def drainFlaky(tag: String, svc: String => String): Set[Long] = {
    val in = tmpDir(s"$tag-in"); val ok = tmpDir(s"$tag-ok")
    val dlq = tmpDir(s"$tag-dlq"); val cp = tmpDir(s"$tag-cp")
    (0L until 120L).map(i => (i, s"Input Data: $i")).toDF("id", "value")
      .repartition(3).write.mode("overwrite").parquet(in)
    FlakyServices.calls.clear()
    val q = EnrichmentPipeline.start(
      spark.readStream.schema("id LONG, value STRING")
        .option("maxFilesPerTrigger", 1).parquet(in),
      ok, dlq, cp, svc)
    q.awaitTermination()
    val okIds = spark.read.parquet(ok).select("id").as[Long].collect()
    val dlqIds = spark.read.parquet(dlq).select("id").as[Long].collect()
    assert(okIds.distinct.length == okIds.length, "duplicate ok rows")
    assert(dlqIds.distinct.length == dlqIds.length, "duplicate DLQ rows")
    assert(okIds.toSet.intersect(dlqIds.toSet).isEmpty,
      "rows written to BOTH sinks")
    val lost = (0L until 120L).toSet -- okIds -- dlqIds
    assert(lost.isEmpty, s"${lost.size} rows lost")
    val calls = FlakyServices.calls.values().asScala.map(_.get()).toSeq
    assert(calls.size == 120 && calls.forall(_ == 1),
      s"expected one service call per row, got ${calls.sum} calls " +
        s"for ${calls.size} rows")
    dlqIds.toSet
  }

  test("a service whose calls disagree loses no row: one evaluation " +
      "per row feeds both sinks (first call per value fails)") {
    // one call per row, and that call fails: the DLQ rule sends every
    // row to the DLQ, temporary failure or not
    assert(drainFlaky("first-fail", FlakyServices.firstCallFails) ==
      (0L until 120L).toSet)
  }

  test("seeded random service failures: no row lost or duplicated, " +
      "one service call per row") {
    val dlqIds = drainFlaky("seeded", FlakyServices.seededFlaky)
    assert(dlqIds.nonEmpty && dlqIds.size < 120,
      s"the schedule must route rows both ways, DLQ'd ${dlqIds.size}")
  }
}
