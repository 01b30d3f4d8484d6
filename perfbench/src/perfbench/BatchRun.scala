package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry

/** `batch_short` and `batch_iterative`: passes over a fixed query set.
  * Each query is built with `SparkEntry.queries(name)(spark, dir)` and
  * executed with a `noop` write, as `graft.Bench` does. The set-up is the
  * session start plus a warm pass, which builds the shared indexes; the
  * timed passes follow, as many as fit in `seconds` (at least two). Every
  * query run, in the set-up or a timed pass, is checked against the
  * fingerprints pinned on the committed corpus, outside the pass timer. The query order is fixed so that
  * differences between runs come from the program and the host, not from
  * the order; the seed does not change a batch workload.
  */
object BatchRun {
  val Short: Seq[String] = Seq("q0_scan", "q1_pricing_summary",
    "q2_revenue_by_nation", "q3_top_revenue_orders", "q12_semi_anti",
    "q18_large_orders", "ev_type_stats", "ev_asof_join", "enrich_pipeline",
    "enrich_dlq_routing", "text_token_count", "dedup_exact", "emb_rand_proj",
    "mm_meta")
  val Iterative: Seq[String] = Seq("ev_user_pagerank", "ev_user_kcore")
  val Workloads: Map[String, Seq[String]] =
    Map("batch_short" -> Short, "batch_iterative" -> Iterative)

  /** Order-insensitive result fingerprint: row count and the sum of
    * every row's 64-bit hash. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Wall time of one trivial single-task job: the per-job floor. */
  def jobFloorMs(spark: SparkSession, n: Int = 20): Double = {
    val sc = spark.sparkContext
    Stats.median((1 to n).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e6
    })
  }

  final class Pass(val index: Int, val traced: Boolean) {
    var wall = 0.0
    val construct = mutable.LinkedHashMap.empty[String, Double]
    val plan = mutable.LinkedHashMap.empty[String, Double]
    val execute = mutable.LinkedHashMap.empty[String, Double]
    val total = mutable.LinkedHashMap.empty[String, Double]
  }

  /** Pinned fingerprints: the flat `{"query": "fingerprint"}` object of
    * `fingerprints.json`. */
  def readPinned(path: String): Map[String, String] = {
    val Pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
    Pair.findAllMatchIn(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def run(w: String, seconds: Double, trace: Boolean, dir: String,
      pinnedPath: String, work: String): Main.Result = {
    val names = Workloads(w)
    val pinned = readPinned(pinnedPath)
    var attempted = 0L
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val spans = new Spans

    /** One checked query run: `f` returns the result's fingerprint. */
    def checked(where: String, n: String)(f: => String): Option[String] = {
      attempted += 1
      try {
        val fp = f
        if (!pinned.get(n).contains(fp)) {
          failed += 1
          notes += s"$n: fingerprint $fp in $where differs from the pinned ${pinned.getOrElse(n, "-")}"
        }
        Some(fp)
      } catch {
        case e: Throwable =>
          failed += 1
          notes += s"$n threw in $where: $e"
          None
      }
    }

    // set-up, timed as `setup_s`: the run's session, started in a cold JVM,
    // and a warm pass that builds the shared indexes and checks every result
    val ts0 = System.nanoTime()
    val spark = Main.session()
    names.foreach { n =>
      checked("the warm pass", n)(fingerprint(SparkEntry.queries(n)(spark, dir)))
        .foreach(fp => notes += s"fingerprint $n $fp")
    }
    val setupS = (System.nanoTime() - ts0) / 1e9

    val ledger = new JobLedger
    val floorMs = if (trace) {
      spark.sparkContext.addSparkListener(ledger)
      jobFloorMs(spark)
    } else 0.0

    /** Build and run one query inside the timer, then check its result
      * outside it; returns the nanoseconds spent checking. */
    def runQuery(p: Pass, n: String): Long = {
      val parent = s"pass:${p.index}"
      def phase[T](name: String)(f: => T): T =
        if (p.traced) JobLedger.inPhase(spark, s"$name:$n")(f) else f
      var checkNanos = 0L
      checked(s"timed pass ${p.index}", n) {
        val t0 = System.nanoTime()
        val df = phase("construct")(SparkEntry.queries(n)(spark, dir))
        val t1 = System.nanoTime()
        if (p.traced) {
          phase("plan")(df.queryExecution.executedPlan)
        }
        val t2 = System.nanoTime()
        phase("execute")(df.write.format("noop").mode("overwrite").save())
        val t3 = System.nanoTime()
        p.construct(n) = (t1 - t0) / 1e9
        p.plan(n) = (t2 - t1) / 1e9
        p.execute(n) = (t3 - t2) / 1e9
        p.total(n) = (t3 - t0) / 1e9
        if (p.traced) {
          spans.add(s"construct:$n", parent, t0, t1)
          spans.add(s"plan:$n", parent, t1, t2)
          spans.add(s"execute:$n", parent, t2, t3)
        }
        val fp = phase("check")(fingerprint(df))
        checkNanos = System.nanoTime() - t3
        fp
      }
      checkNanos
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    val tm0 = System.nanoTime()
    def elapsed = (System.nanoTime() - tm0) / 1e9
    var last = 0.0
    // a pass starts only if it should end within `seconds`, but every run
    // times at least two, so that whether a second pass fits does not
    // change what the median covers; traced runs alternate untraced and
    // traced passes, at least U T U, so a JVM still warming up does not
    // bias the overhead estimate
    while (passes.size < 2 || elapsed + last <= seconds ||
        (trace && passes.size < 3)) {
      val p = new Pass(passes.size, traced = trace && passes.size % 2 == 1)
      val t0 = System.nanoTime()
      val checkNanos = names.map(n => runQuery(p, n)).sum
      val t1 = System.nanoTime()
      p.wall = (t1 - t0 - checkNanos) / 1e9
      last = (t1 - t0) / 1e9
      spans.add(s"pass:${passes.size}", if (p.traced) "traced" else "untraced", t0, t1)
      passes += p
    }
    JobLedger.flush(spark)

    val plain = passes.filterNot(_.traced)
    // per query, the median over the timed passes; then the median over queries
    val lat = names.flatMap { n =>
      val xs = plain.flatMap(_.total.get(n)).toSeq
      if (xs.isEmpty) None else Some(Stats.median(xs) * 1000.0)
    }
    val passS = Stats.median(plain.map(_.wall).toSeq)
    val metrics = Seq(
      "setup_s" -> setupS,
      "pass_s" -> passS,
      "ops_per_s" -> plain.map(_.total.size).sum / plain.map(_.wall).sum,
      "latency_p50_ms" -> Stats.median(lat))
    val layers = if (!trace) Nil else traceLayers(passes.filter(_.traced).toSeq,
      ledger.snapshot(), names, passS, floorMs)
    if (trace) {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"),
        spans.toJson + "\n")
    }
    notes += f"$w: set-up $setupS%.3f s, " +
      s"${plain.size} timed passes, pass walls ${plain.map(p => f"${p.wall}%.3f").mkString(" ")}"
    Main.Result(failed == 0, attempted, failed, metrics, layers, notes.toSeq)
  }

  /** Per-layer metrics, averaged over the traced passes. */
  def traceLayers(traced: Seq[Pass], jobs: Seq[JobLedger#Job], names: Seq[String],
      untracedPassS: Double, floorMs: Double): Seq[(String, Double)] = {
    val k = traced.size.toDouble
    def q(j: JobLedger#Job) = j.phase.substring(j.phase.indexOf(':') + 1)
    def kind(j: JobLedger#Job) = j.phase.substring(0, j.phase.indexOf(':'))
    // the output checks run outside the timer and are left out
    val mine = jobs.filter(j => j.phase != JobLedger.Unphased && kind(j) != "check")
    def perPass(js: Seq[JobLedger#Job])(f: JobLedger#Job => Double) = js.map(f).sum / k
    val byFile = (file: String) => mine.filter(_.file == file)
    val exec = mine.filter(kind(_) == "execute")
    val construct = traced.map(_.construct.values.sum).sum / k
    val plan = traced.map(_.plan.values.sum).sum / k
    val execute = traced.map(_.execute.values.sum).sum / k
    val tracedPassS = Stats.median(traced.map(_.wall))
    val taskS = perPass(exec)(_.taskNanos / 1e9)
    Seq(
      "sources.load_jobs" -> byFile("Tables.scala").size / k,
      "sources.load_s" -> perPass(byFile("Tables.scala"))(_.seconds),
      "operators.construct_s" -> construct,
      "operators.construct_jobs" -> mine.count(kind(_) == "construct") / k,
      "checkpointing.cut_jobs" -> byFile("Checkpointing.scala").size / k,
      "checkpointing.cut_s" -> perPass(byFile("Checkpointing.scala"))(_.seconds),
      "planner.plan_s" -> plan,
      "exec.execute_s" -> execute,
      "exec.jobs" -> exec.size / k,
      "exec.stages" -> perPass(exec)(_.stages.toDouble),
      "exec.tasks" -> perPass(exec)(_.tasks.toDouble),
      "exec.task_s" -> taskS,
      "exec.busy_frac" -> (if (execute > 0) taskS / (execute * Main.Cpus) else 0.0),
      "exec.shuffle_write_bytes" -> perPass(exec)(_.shuffleWrite.toDouble),
      "exec.shuffle_read_bytes" -> perPass(exec)(_.shuffleRead.toDouble),
      "exec.spill_bytes" -> perPass(exec)(_.spill.toDouble),
      "exec.job_floor_ms" -> floorMs,
      "trace.pass_s" -> tracedPassS,
      "trace.overhead_s" -> (tracedPassS - untracedPassS),
      "trace.accounted_s" -> (construct + plan + execute),
      "jvm.peak_rss_mb" -> Stats.peakRssMb()) ++
    names.flatMap { n =>
      Seq(
        s"q.$n.construct_s" -> traced.map(_.construct.getOrElse(n, 0.0)).sum / k,
        s"q.$n.execute_s" -> traced.map(_.execute.getOrElse(n, 0.0)).sum / k,
        s"q.$n.jobs" -> mine.count(q(_) == n) / k)
    }
  }
}
