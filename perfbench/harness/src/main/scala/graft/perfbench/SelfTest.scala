package graft.perfbench

/** Harness self-checks that need no Spark session: the op schedule is a
  * pure function of the seed, keys stay in range, the record generator is
  * deterministic, and interval unions are measured right.
  */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new AssertionError(s"self-test failed: $what")

  def run(): Unit = {
    def ops(seed: Long, t: Int) = { val s = new ChatLog.Schedule(seed, t); Seq.fill(2000)(s.next()) }
    check(ops(7, 0) == ops(7, 0), "same seed yields the same op schedule")
    check(ops(7, 0) != ops(8, 0), "another seed yields another op schedule")
    check(ops(7, 0) != ops(7, 1), "reader threads get distinct schedules")
    val pages = ops(7, 0).count(_.range)
    check(pages == math.round(2000 * ChatLog.rangeFrac), s"$pages pages in 2000 ops")
    val keys = ops(7, 2).map(_.key(123456L))
    check(keys.forall(k => k >= 0 && k < 123456L), "keys fall inside the history")
    check(ops(7, 2).filter(_.range).forall(_.key(123456L) <= 123456L - ChatLog.rangeLen),
      "pages fit inside the history")
    check(ChatLog.row(3, 42) == ChatLog.row(3, 42) && ChatLog.row(3, 42) != ChatLog.row(4, 42),
      "records are a pure function of (seed, id)")
    check(ChatLog.zipf(0.0, 1000) == 0 && ChatLog.zipf(0.999999, 1000) == 999, "zipf bounds")
    check(Tracer.unionLength(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0))) == 4.0, "interval union")
    println("harness self-test: ok")
  }
}
