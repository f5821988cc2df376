package perfbench

import java.nio.file.Files

/** Tests of the harness's own logic: the percentile rule, the
  * latest-wins model, the segment → trigger freshness join, and span
  * self time. No Spark session is started.
  *
  *   python3 perfbench/build.py test
  */
object HarnessTests {
  private var failures = 0
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def eq[T](got: T, want: T): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")
  private def near(got: Double, want: Double): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"got $got, want $want")

  def main(args: Array[String]): Unit = {
    test("quantile interpolates linearly between order statistics") {
      near(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5), 2.5)
      near(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9), 4.6)
      near(Stats.median(Seq(7.0)), 7.0)
    }

    test("a percentile needs ten samples beyond it") {
      val xs = (1 to 100).map(_.toDouble)
      assert(Stats.percentile(xs, 0.9).isDefined)
      assert(Stats.percentile(xs.take(99), 0.9).isEmpty)
      assert(Stats.percentile(xs, 0.99).isEmpty)
      assert(Stats.percentile(xs.take(20), 0.5).isDefined)
      assert(Stats.percentile(xs.take(19), 0.5).isEmpty)
      eq(Stats.beyond(1000, 0.99), 10)
    }

    val seed = 7L
    def rec(id: Int, lsn: Long, salary: Int = 1, deleted: Boolean = false) =
      Rec(id, "IT", salary, if (deleted) "d" else "u", lsn, Emp.TsBase + lsn, deleted)

    test("model: create, update, delete, re-insert") {
      val m = new Model(seed, 0)
      assert(m.apply(rec(1, 10, salary = 100)))
      eq(m.get(1).map(_.salary), Some(100))
      assert(m.apply(rec(1, 11, salary = 200)))
      eq(m.get(1).map(_.salary), Some(200))
      eq(m.salaryTotal, 200L)
      assert(m.apply(rec(1, 12, deleted = true)))
      eq(m.get(1), None)
      eq(m.count, 0L)
      assert(m.apply(rec(1, 13, salary = 300)))
      eq(m.get(1).map(_.salary), Some(300))
      eq(m.count, 1L)
      eq(m.liveIds.toList, List(1))
    }

    test("model: an older lsn never wins, not even over a tombstone") {
      val m = new Model(seed, 0)
      m.apply(rec(1, 10, salary = 100))
      assert(!m.apply(rec(1, 9, salary = 999)))
      assert(!m.apply(rec(1, 10, salary = 999)))
      eq(m.get(1).map(_.salary), Some(100))
      m.apply(rec(1, 20, deleted = true))
      assert(!m.apply(rec(1, 15, salary = 5)))
      eq(m.get(1), None)
      eq(m.count, 0L)
    }

    test("model: preloaded base rows, aggregates and live ids") {
      val m = new Model(seed, 5)
      eq(m.count, 5L)
      val total = (1 to 5).map(i => Model.baseRec(seed, i).salary.toLong).sum
      eq(m.salaryTotal, total)
      m.apply(rec(3, 100, deleted = true))
      m.apply(rec(9, 101, salary = 50))
      eq(m.liveIds.toList, List(1, 2, 4, 5, 9))
      eq(m.deptCount.values.sum, 5L)
      eq(m.salaryTotal, total - Model.baseRec(seed, 3).salary + 50)
      eq(m.tableHash._1, 5L)
    }

    test("table hash is order independent and sees every column") {
      val a = new Model(seed, 0); val b = new Model(seed, 0)
      a.apply(rec(1, 10)); a.apply(rec(2, 11))
      b.apply(rec(2, 11)); b.apply(rec(1, 10))
      eq(a.tableHash, b.tableHash)
      val c = new Model(seed, 0)
      c.apply(rec(1, 10)); c.apply(rec(2, 11, salary = 2))
      assert(c.tableHash != a.tableHash)
    }

    test("generator keeps the model equal to the landed changes") {
      val dir = Files.createTempDirectory("perfbench-test")
      try {
        val g = new ChangeGen(seed, new Model(seed, 100), dir)
        val seg = g.land(g.bulkSegment(500))
        eq(seg.changes, 500)
        eq(Files.exists(seg.path), true)
        eq(Files.list(dir).toArray.length, 1) // the hidden temporary name is gone
        val lines = Files.readAllLines(seg.path)
        eq(lines.size, 500)
        assert(lines.get(0).startsWith("{\"value\":\"{\\\"payload\\\":"))
        // replaying the same seed reproduces the same bytes
        val dir2 = Files.createTempDirectory("perfbench-test")
        val g2 = new ChangeGen(seed, new Model(seed, 100), dir2)
        eq(Files.readAllLines(g2.land(g2.bulkSegment(500)).path), lines)
        eq(g2.model.tableHash, g.model.tableHash)
        Main.deleteTree(dir2)
      } finally Main.deleteTree(dir)
    }

    test("freshness joins each segment to the trigger that committed it") {
      val segs = Seq((0.0, 10L), (100.0, 5L), (200.0, 5L), (300.0, 7L))
      // trigger 1 takes segment 0; trigger 2 takes segments 1 and 2; a
      // rowless trigger in between is ignored; segment 3 is never committed
      val trig = Seq(Stats.Trigger(50, 10), Stats.Trigger(60, 0), Stats.Trigger(260, 10))
      eq(Stats.freshness(segs, trig), Seq(Some(50.0), Some(160.0), Some(60.0), None))
    }

    test("self time subtracts the union of children, clipped to the parent") {
      import Stats.Span
      val spans = Seq(
        Span(0, "root", -1, 0, 100),
        Span(1, "a", 0, 10, 40),
        Span(2, "b", 0, 30, 50), // overlaps a: 10..50 covered once
        Span(3, "c", 0, 90, 120), // runs past the parent: 90..100 counts
        Span(4, "leaf", 1, 15, 20))
      val self = Stats.selfTimes(spans)
      near(self(0), 100 - 40 - 10)
      near(self(1), 30 - 5)
      near(self(2), 20)
      near(self(4), 5)
      near(Stats.covered(Seq((0.0, 1.0), (2.0, 3.0)), 0.5, 2.5), 1.0)
    }

    println(s"$passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
