package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.streaming.EnrichmentPipeline

/** `stream_enrich`: the reference topology as a closed-loop backlog
  * drain. `batches` parquet files of `rowsPerBatch` seeded
  * `Data(id, "Input Data: id")` rows are written before the timer
  * starts and read with `maxFilesPerTrigger=1`, so each file is one
  * micro-batch and each batch starts only after the previous one
  * commits. The seeded [[StubService]] is the pipeline's `svc`.
  */
object StreamEnrich {
  /** Delivery counts: rows in the ok sink, rows in the DLQ, input ids in
    * neither, and rows beyond the first for an id. */
  final case class Counts(ok: Long, dlq: Long, lost: Long, dup: Long)

  /** The observed ledger next to the one the stub's schedule predicts.
    * `unexplained` counts ids whose placement differs from the
    * prediction, `wrong` ok rows whose content is wrong, `badError` DLQ
    * rows whose error class is not the one the feeding call threw. */
  final case class Ledger(input: Long, observed: Counts, expected: Counts,
      unexplained: Long, wrong: Long, badError: Long) {
    def failed: Long = observed.lost + wrong
    def explained: Boolean = observed == expected && unexplained == 0
  }

  /** Which sink each SQL execution wrote, read from the output path in
    * its physical plan (`.../ok/batchId=3` or `.../dlq/batchId=3`). */
  final class Sinks(out: String) extends SparkListener {
    private val byExecution = mutable.HashMap.empty[Long, String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val plan = s.physicalPlanDescription
        Seq("ok", "dlq").find(k => plan.contains(s"$out/$k/batchId="))
          .foreach(k => synchronized(byExecution(s.executionId) = k))
      case _ => ()
    }
    def of(execution: Long): String = synchronized(byExecution.getOrElse(execution, ""))
  }

  /** Per-batch progress, recorded for every batch of the timed drain. */
  final class Progress extends StreamingQueryListener {
    /** (batch id, trigger start, rows, `durationMs`) per batch. */
    val batches = mutable.ArrayBuffer.empty[(Long, String, Long, Map[String, Long])]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        batches += ((p.batchId, p.timestamp, p.numInputRows,
          d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap))
      }
    }
  }

  /** The micro-batch spans, as JSON, relative to the first trigger. */
  def spansJson(batches: Seq[(Long, String, Long, Map[String, Long])]): String = {
    def ms(ts: String) = java.time.Instant.parse(ts).toEpochMilli
    val t0 = batches.headOption.map(b => ms(b._2)).getOrElse(0L)
    batches.map { case (id, ts, rows, d) =>
      Json.obj("name" -> Json.str(s"batch:$id"), "parent" -> Json.str("drain"),
        "start_s" -> Json.num((ms(ts) - t0) / 1000.0),
        "dur_s" -> Json.num(d.getOrElse("triggerExecution", 0L) / 1000.0),
        "rows" -> rows.toString,
        "duration_ms" -> Json.obj(d.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*))
    }.mkString("[", ",\n", "]")
  }

  /** First id of the seed's input: seeds get disjoint id ranges. */
  def firstId(seed: Long): Long = Math.floorMod(seed * 1000003L, 100000L) * 1000000L

  def writeInput(spark: SparkSession, dir: String, first: Long, batches: Int,
      rowsPerBatch: Int): Unit =
    spark.range(first, first + batches.toLong * rowsPerBatch, 1, batches)
      .select(col("id"), concat(lit("Input Data: "), col("id")).as("value"))
      .write.mode("overwrite").parquet(dir)

  /** Drain `in` through `EnrichmentPipeline.start`; returns wall seconds. */
  def drain(spark: SparkSession, in: String, out: String, svc: StubService): Double = {
    val source = spark.readStream.schema("id LONG, value STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val t0 = System.nanoTime()
    val q = EnrichmentPipeline.start(source, s"$out/ok", s"$out/dlq", s"$out/cp", svc)
    q.awaitTermination()
    val t1 = System.nanoTime()
    q.exception.foreach(e => throw e)
    (t1 - t0) / 1e9
  }

  /** The output check, outside the timed region. Every ok row's
    * enrichment is recomputed with plain Scala string operations. The
    * expected ledger comes from the stub's schedule: for each id, the
    * call made in a sink's write (else its latest call) feeds that sink,
    * so the row belongs in the ok sink if that call succeeded and in the
    * DLQ, with that call's error class, if it threw. The observed
    * placement of every id is compared with that prediction. */
  def check(spark: SparkSession, out: String, first: Long, n: Long, svc: StubService,
      sinks: Sinks): Ledger = {
    def read(sub: String, cols: String*): Array[Row] = {
      val p = new java.io.File(s"$out/$sub")
      if (!p.exists) Array.empty
      else spark.read.parquet(p.getPath).select(cols.map(col): _*).collect()
    }
    val ok = read("ok", "id", "value", "data.input.id", "data.input.value",
      "data.extra1", "data.extra2", "data.extra3.name", "additional")
    val dlq = read("dlq", "id", "value", "error_class")
    def inRange(id: Long) = id >= first && id < first + n
    var wrong = 0L
    val okRows = mutable.HashMap.empty[Long, Int]
    ok.foreach { r =>
      val id = r.getLong(0)
      val v = s"Input Data: $id"
      val good = inRange(id) && r.getString(1) == v && r.getLong(2) == id &&
        r.getString(3) == v && r.getString(4) == v.reverse &&
        r.getString(5) == v.toUpperCase && r.getString(6) == v.sorted &&
        r.getString(7) == s"transformed $id"
      if (!good) wrong += 1
      okRows(id) = okRows.getOrElse(id, 0) + 1
    }
    val dlqRows = mutable.HashMap.empty[Long, List[String]]
    dlq.foreach { r =>
      val id = r.getLong(0)
      if (!inRange(id) || r.getString(1) != s"Input Data: $id") wrong += 1
      dlqRows(id) = r.getString(2) :: dlqRows.getOrElse(id, Nil)
    }

    val calls = StubService.callLog().groupBy(_.id)
    var unexplained, badError = 0L
    var expOk, expDlq, expLost, expDup = 0L
    (first until first + n).foreach { id =>
      val cs = calls.getOrElse(id, Nil)
      def feed(sink: String) =
        cs.filter(c => sinks.of(c.execution) == sink).maxByOption(_.call)
          .orElse(cs.maxByOption(_.call))
          .map(c => StubService.outcome(svc.seed, id, c.call, svc.latencyScale))
      val toOk = feed("ok").exists(_.kind == StubService.Ok)
      val toDlq = feed("dlq").flatMap(_.errorClass)
      if (toOk) expOk += 1
      if (toDlq.nonEmpty) expDlq += 1
      if (!toOk && toDlq.isEmpty) expLost += 1
      if (toOk && toDlq.nonEmpty) expDup += 1
      val inOk = okRows.getOrElse(id, 0)
      val inDlq = dlqRows.getOrElse(id, Nil)
      if ((inOk > 0) != toOk || inDlq.nonEmpty != toDlq.nonEmpty ||
          inOk > 1 || inDlq.size > 1) unexplained += 1
      if (inDlq.exists(c => !toDlq.contains(c))) badError += 1
    }
    val delivered = (okRows.keySet ++ dlqRows.keySet).count(inRange).toLong
    val distinct = (okRows.keySet ++ dlqRows.keySet).size.toLong
    Ledger(n,
      Counts(ok.length.toLong, dlq.length.toLong, n - delivered,
        ok.length + dlq.length - distinct),
      Counts(expOk, expDlq, expLost, expDup), unexplained, wrong, badError)
  }
}
