package perfbench

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** JVM side of the benchmark. `run.py` builds the classpath and calls
  *
  *   perfbench.Main workload seed seconds trace corpusDir fingerprints workDir
  *
  * The last stdout line is `PERFBENCH <json>`: the operation counts, the
  * end-to-end metrics and, when tracing, the per-layer metrics.
  */
object Main {
  /** `local[4]`: the size of the host the benchmark was tuned on. */
  val Cpus = 4

  final case class Result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double)], layers: Seq[(String, Double)], notes: Seq[String])

  /** The session, configured exactly as the program configures its own. */
  def session(): SparkSession = GraftSession.local(Cpus)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, corpus, fingerprints, work) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val r = workload match {
      case "stream_enrich" => StreamRun.run(seed, trace, work)
      case w if BatchRun.Workloads.contains(w) =>
        BatchRun.run(w, seconds, trace, corpus, fingerprints, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    SparkSession.getDefaultSession.foreach(_.stop())
    val line = Json.obj(
      "correct" -> r.correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(r.metrics.map { case (k, v) => k -> Json.num(v) }: _*),
      "layers" -> Json.obj(r.layers.map { case (k, v) => k -> Json.num(v) }: _*),
      "notes" -> r.notes.map(Json.str).mkString("[", ",", "]"))
    println("PERFBENCH " + line)
  }
}

object StreamRun {
  // sized so one drain takes about 15 s on a 4-core host, with the
  // service's wait about a third of each batch's time
  val Batches = 24
  val RowsPerBatch = 100
  val LatencyScale = 0.0003
  val WarmBatches = 3

  /** One fixed-size drain, whatever `--seconds` says: the input has to
    * be the same for every run of a seed. */
  def run(seed: Long, trace: Boolean, work: String): Main.Result = {
    val first = StreamEnrich.firstId(seed)
    val n = Batches.toLong * RowsPerBatch
    val svc = StubService(seed, LatencyScale)
    // set-up, timed as `setup_s`: the session start plus a warm-up drain
    // over ids the timed drain never uses; the inputs are written between
    // the two, outside the timer
    val ts0 = System.nanoTime()
    val spark = Main.session()
    val sessionS = (System.nanoTime() - ts0) / 1e9
    StreamEnrich.writeInput(spark, s"$work/in", first, Batches, RowsPerBatch)
    StreamEnrich.writeInput(spark, s"$work/warm-in", first + n, WarmBatches, RowsPerBatch)
    val setupS = sessionS + StreamEnrich.drain(spark, s"$work/warm-in", s"$work/warm-out", svc)

    val progress = new StreamEnrich.Progress
    spark.streams.addListener(progress)
    val sinks = new StreamEnrich.Sinks(s"$work/out")
    spark.sparkContext.addSparkListener(sinks)
    val ledger = new JobLedger
    if (trace) spark.sparkContext.addSparkListener(ledger)
    StubService.reset()
    val drainS = StreamEnrich.drain(spark, s"$work/in", s"$work/out", svc)
    JobLedger.flush(spark)
    val jobs = ledger.snapshot()
    val svcCalls = StubService.totalCalls.get
    val svcBusy = StubService.busyNanos.get / 1e9
    val batches = progress.synchronized(progress.batches.toList)
    val lat = batches.map(_._4.getOrElse("triggerExecution", 0L).toDouble)

    val l = StreamEnrich.check(spark, s"$work/out", first, n, svc, sinks)
    val notes = Seq(
      f"stream: $Batches batches x $RowsPerBatch rows, ${batches.size} batches seen, set-up $setupS%.3f s",
      s"ledger: input=${l.input} observed=${l.observed} expected=${l.expected} " +
        s"unexplained=${l.unexplained} wrong=${l.wrong} bad_error=${l.badError}")
    val metrics = Seq(
      "setup_s" -> setupS,
      "pass_s" -> drainS,
      "ops_per_s" -> n / drainS,
      "latency_p50_ms" -> Stats.median(lat))
    val layers =
      if (!trace) Nil
      else {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"),
          StreamEnrich.spansJson(batches) + "\n")
        def med(k: String*) = Stats.median(batches.map(b => k.map(b._4.getOrElse(_, 0L)).sum.toDouble))
        Seq(
          "streaming.svc_calls_per_row" -> svcCalls.toDouble / n,
          "streaming.svc_busy_s" -> svcBusy,
          "streaming.tasks_per_batch" -> jobs.map(_.tasks).sum.toDouble / batches.size,
          "streaming.jobs_per_batch" -> jobs.size.toDouble / batches.size,
          "streaming.add_batch_ms" -> med("addBatch"),
          "streaming.plan_ms" -> med("queryPlanning"),
          "streaming.ack_ms" -> med("walCommit", "commitOffsets"),
          "streaming.source_ms" -> med("latestOffset", "getBatch"),
          "streaming.ok_rows" -> l.observed.ok.toDouble,
          "streaming.dlq_rows" -> l.observed.dlq.toDouble,
          "streaming.lost_rows" -> l.observed.lost.toDouble,
          "streaming.dup_rows" -> l.observed.dup.toDouble,
          "streaming.svc_wait_frac" -> svcBusy / drainS,
          "exec.jobs" -> jobs.size.toDouble,
          "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
          "exec.task_s" -> jobs.map(_.taskNanos).sum / 1e9,
          "jvm.peak_rss_mb" -> Stats.peakRssMb())
      }
    Main.Result(l.explained && l.wrong == 0 && l.badError == 0 && batches.size == Batches,
      n, l.failed, metrics, layers, notes)
  }
}
