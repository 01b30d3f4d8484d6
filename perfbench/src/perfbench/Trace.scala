package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Attribution from outside the program: a `SparkListener` that tags
  * every job with the phase the benchmark was in when it started (a
  * thread-local property set around each call into the program) and
  * with the source file of its call site (`parquet at Tables.scala:22`
  * → `Tables.scala`; the line number is ignored), and sums task
  * metrics per job. Events arrive asynchronously, so readers call
  * [[flush]] (`GraftListenerFlush`) before looking.
  */
final class JobLedger extends SparkListener {
  import JobLedger._

  final class Job(val id: Int, val phase: String, val file: String, val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0
    var taskNanos = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    def seconds: Double = if (end < 0) 0.0 else (end - start) / 1000.0
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse(Unphased)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new Job(e.jobId, phase, callSiteFile(site), e.time)
    jobs(e.jobId) = j
    e.stageInfos.foreach(s => stageJob(s.stageId) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskNanos += m.executorRunTime * 1000000L
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Seq[Job] = synchronized(jobs.values.toList)
}

object JobLedger {
  val PhaseKey = "perfbench.phase"
  val Unphased = "-"

  private val SiteFile = """ at ([^\s:]+\.(?:scala|java)):\d+""".r

  /** `localCheckpoint at Checkpointing.scala:57` → `Checkpointing.scala`. */
  def callSiteFile(site: String): String =
    SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("")

  def flush(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)

  /** Run `f` with every job it starts tagged `phase`. */
  def inPhase[T](spark: org.apache.spark.sql.SparkSession, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, phase)
    try f finally sc.setLocalProperty(PhaseKey, prev)
  }
}

/** Wall-clock spans kept in memory and written out at the end. */
final class Spans {
  final case class Span(name: String, parent: String, startNanos: Long, endNanos: Long) {
    def seconds: Double = (endNanos - startNanos) / 1e9
  }
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()

  def add(name: String, parent: String, startNanos: Long, endNanos: Long): Unit =
    buf += Span(name, parent, startNanos, endNanos)

  def toJson: String = buf.map { s =>
    Json.obj("name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
      "start_s" -> Json.num((s.startNanos - origin) / 1e9),
      "dur_s" -> Json.num(s.seconds))
  }.mkString("[", ",\n", "]")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this JVM, from /proc (0 where unavailable). */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)
}
