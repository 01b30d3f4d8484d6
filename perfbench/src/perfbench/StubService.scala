package perfbench

import java.io.IOException
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

/** Seeded stand-in for the reference's fallible external service
  * (Services.scala:100-121): 20% of calls fail, half of them with a
  * temporary `IOException` and half unrecoverably, after a uniform
  * random latency (the reference's 0-5000 ms, scaled by `latencyScale`).
  *
  * Each call's outcome and latency are a pure function of
  * (seed, id, that id's call number), so a row the pipeline evaluates
  * twice can get a different answer the second time, exactly as the
  * reference's `Random` would give it. The per-id call counters live in
  * this JVM (Spark `local[N]` runs tasks in the driver JVM). Every call
  * is logged with the SQL execution it ran in, which is what lets the
  * output check work out, from the schedule alone, where each row should
  * have landed.
  */
final case class StubService(seed: Long, latencyScale: Double)
    extends (String => String) {
  import StubService._

  def apply(value: String): String = {
    val id = value.substring(value.lastIndexOf(' ') + 1).toLong
    val n = callNumber(id)
    val o = outcome(seed, id, n, latencyScale)
    log.add(Call(id, n, executionId()))
    val t0 = System.nanoTime()
    var left = o.latencyNanos
    while (left > 0) {
      LockSupport.parkNanos(left)
      left = o.latencyNanos - (System.nanoTime() - t0)
    }
    busyNanos.addAndGet(System.nanoTime() - t0)
    o.kind match {
      case Ok => s"transformed $id"
      case Temporary => throw new IOException(s"service unavailable for $id (call $n)")
      case Unrecoverable => throw new IllegalArgumentException(s"invalid message $id (call $n)")
    }
  }
}

object StubService {
  sealed trait Kind
  case object Ok extends Kind
  case object Temporary extends Kind
  case object Unrecoverable extends Kind

  final case class Outcome(kind: Kind, latencyNanos: Long) {
    def errorClass: Option[String] = kind match {
      case Ok => None
      case Temporary => Some(classOf[IOException].getName)
      case Unrecoverable => Some(classOf[IllegalArgumentException].getName)
    }
  }

  /** One service call: the id, its call number for that id, and the SQL
    * execution (`spark.sql.execution.id`) of the task that made it, or -1. */
  final case class Call(id: Long, call: Int, execution: Long)

  /** The reference's latency ceiling (Services.scala:116-121). */
  val MaxLatencyMs = 5000.0

  private val calls = new ConcurrentHashMap[java.lang.Long, AtomicInteger]()
  private val log = new ConcurrentLinkedQueue[Call]()
  val totalCalls = new AtomicLong
  val busyNanos = new AtomicLong

  def reset(): Unit = {
    calls.clear()
    log.clear()
    totalCalls.set(0L)
    busyNanos.set(0L)
  }

  /** Every call since the last [[reset]]. */
  def callLog(): Seq[Call] = {
    import scala.jdk.CollectionConverters._
    log.asScala.toList
  }

  private def executionId(): Long =
    Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)

  /** 1-based number of this call for `id` in this JVM. */
  def callNumber(id: Long): Int = {
    totalCalls.incrementAndGet()
    calls.computeIfAbsent(id, _ => new AtomicInteger).incrementAndGet()
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** The schedule: a pure function of (seed, id, call number). */
  def outcome(seed: Long, id: Long, call: Int, latencyScale: Double): Outcome = {
    val h = mix(mix(mix(seed) ^ id) ^ call.toLong)
    val u = unit(h)
    val kind = if (u < 0.10) Temporary else if (u < 0.20) Unrecoverable else Ok
    val latencyMs = unit(mix(h)) * MaxLatencyMs * latencyScale
    Outcome(kind, (latencyMs * 1e6).toLong)
  }
}
