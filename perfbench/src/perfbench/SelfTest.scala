package perfbench

/** The benchmark's own test (run by `test_perfbench.py`):
  *  - the same seed gives an identical failure/latency schedule;
  *  - a second evaluation of a row can differ from the first;
  *  - the failure mix matches Services.scala (10% temporary, 10% unrecoverable);
  *  - a small drain's ledger balances, ok + dlq + lost - dup == input, and
  *    equals the ledger the stub's schedule predicts, id by id, with every
  *    delivered row's content and error class verified.
  */
object SelfTest {
  def check(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"self-test failed: $what")

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val scale = 0.0002
    def schedule(seed: Long) =
      for (id <- 0L until 2000L; c <- 1 to 3) yield StubService.outcome(seed, id, c, scale)
    check(schedule(7L) == schedule(7L), "same seed, same schedule")
    check(schedule(7L) != schedule(8L), "different seeds, different schedules")
    check((0L until 2000L).exists(id =>
      StubService.outcome(7L, id, 1, scale).kind != StubService.outcome(7L, id, 2, scale).kind),
      "a second evaluation can differ from the first")
    val kinds = schedule(7L).groupBy(_.kind).map { case (k, v) => k -> v.size / 6000.0 }
    check(math.abs(kinds(StubService.Temporary) - 0.10) < 0.02 &&
      math.abs(kinds(StubService.Unrecoverable) - 0.10) < 0.02, s"failure mix $kinds")
    check(schedule(7L).forall(o => o.latencyNanos >= 0 &&
      o.latencyNanos < StubService.MaxLatencyMs * scale * 1e6), "latency range")

    val spark = Main.session()
    val first = StreamEnrich.firstId(5L)
    val (batches, rows) = (4, 50)
    val svc = StubService(5L, 0.0)
    val sinks = new StreamEnrich.Sinks(s"$work/out")
    spark.sparkContext.addSparkListener(sinks)
    StreamEnrich.writeInput(spark, s"$work/in", first, batches, rows)
    StubService.reset()
    StreamEnrich.drain(spark, s"$work/in", s"$work/out", svc)
    JobLedger.flush(spark)
    val l = StreamEnrich.check(spark, s"$work/out", first, batches.toLong * rows, svc, sinks)
    spark.stop()
    val o = l.observed
    check(o.ok + o.dlq + o.lost - o.dup == l.input, s"ledger balances: $l")
    check(l.explained, s"observed ledger is the predicted one: $l")
    check(l.wrong == 0 && l.badError == 0, s"delivered rows verify: $l")
    check(o.ok + o.dlq > 0 && o.lost > 0, s"rows were delivered and some lost: $l")
    println(s"SELFTEST ok $l")
  }
}
