package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** SQL statements through the catalog, timed; traced runs split a read
  * into planning (analysis, DSv2 table load, manifest resolve — up to
  * `executedPlan`) and execution. */
object Sql {
  val Reads: Set[String] = Set("lookup", "range", "agg", "changes", "timetravel")

  /** Run `sql` as a statement of `kind`; returns its rows and wall ms. */
  def run(ctx: Ctx, kind: String, sql: String): (Array[Row], Double) = {
    val tr = ctx.tracer
    val t = System.nanoTime()
    val rows = tr.span(s"sources.$kind") {
      if (Reads.contains(kind)) {
        val df = ctx.spark.sql(sql)
        tr.span("sources.plan")(df.queryExecution.executedPlan)
        tr.span("sources.exec")(df.collect())
      } else ctx.spark.sql(sql).collect()
    }
    val ms = (System.nanoTime() - t) / 1e6
    if (kind == "lookup") ctx.lookupRows += rows.length
    (rows, ms)
  }

  /** Per-layer metrics of the `sources` statements a traced run issued. */
  def layerMetrics(ctx: Ctx): Unit = {
    val tr = ctx.tracer
    val res = ctx.result
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq("lookup", "range", "agg", "changes", "timetravel", "update", "delete", "merge").foreach { k =>
      res.put(s"sources.${k}_ms", med(tr.spansNamed(s"sources.$k").map(_.durMs)), "ms")
    }
    res.put("sources.plan_ms", med(tr.spansNamed("sources.plan").map(_.durMs)), "ms")
    val lookups = tr.spansNamed("sources.lookup")
    val lookupJobs = lookups.map(s => tr.allSpans.filter(_.parent == s.id).flatMap(c => tr.jobsOf(c.id)))
    res.put("sources.lookup_bytes_read", med(lookupJobs.map(_.map(_.bytesRead).sum.toDouble)), "bytes")
    // rows returned ÷ rows the scan read
    val sel = lookupJobs.zip(ctx.lookupRows).flatMap { case (js, out) =>
      val read = js.map(_.recordsRead).sum
      if (read > 0) Some(out.toDouble / read) else None
    }
    res.put("sources.lookup_selectivity", med(sel), "ratio")
    val writes = Seq("update", "delete", "merge").flatMap(k => tr.spansNamed(s"sources.$k"))
    res.put("sources.write_jobs",
      if (writes.isEmpty) 0.0 else writes.map(s => tr.jobsOf(s.id).size.toDouble).sum / writes.size, "count")
  }
}

/** `serve`: one closed-loop SQL client against the table through the
  * catalog — about 80% reads (lookups, key ranges, a department
  * aggregate, the change feed between the two newest versions, and the
  * prior version via `VERSION AS OF`) and 20% writes (point UPDATE,
  * DELETE of a few keys, a few-key MERGE). Every result is checked
  * against the model, which each write the client issues updates. */
object Serve {
  val TableRows = 30000
  val RangeWidth = 200
  /** One round of the mix: eight reads and two writes. Rounds run whole
    * (in a seeded order), so every run issues the same proportions. */
  val Round: Seq[String] = Seq("lookup", "lookup", "lookup", "range", "range", "agg", "changes", "timetravel",
    "update", "merge")
  /** Every other round swaps its merge for a delete of a few keys. */
  val AltWrite = "delete"
  /** Timed rounds: one per `RoundSeconds` of `--seconds`, at least
    * `MinRounds`. The count is fixed before timing starts, so every run
    * of a seed issues the same statements whatever the machine's speed. */
  val RoundSeconds = 6
  val MinRounds = 2

  private val cols = Model.Columns.mkString(", ")

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val res = ctx.result
    val (d, gen, setupS) = Pipeline.setup(ctx, TableRows, sessionS)
    val model = gen.model
    val rnd = gen.random
    res.put("setup_s", setupS, "s")

    // (row count, salary sum) of every version, to check VERSION AS OF
    val versionStats = mutable.HashMap(0L -> (model.count, model.salaryTotal))
    // change-feed counts (change_op -> rows) each version introduced
    val versionChanges = mutable.HashMap.empty[Long, Map[String, Long]]
    var head = 0L
    var changedRows = 0L

    def committed(changes: Map[String, Long]): Unit = {
      head += 1
      versionStats(head) = (model.count, model.salaryTotal)
      versionChanges(head) = changes
      changedRows += changes.values.sum
    }

    def distinctLiveKeys(n: Int): Seq[Int] = {
      val s = mutable.LinkedHashSet.empty[Int]
      while (s.size < n) s += gen.randomLiveKey()
      s.toSeq
    }

    /** One statement: issue it, time it, then check it (untimed). */
    def statement(kind: String): Double = kind match {
      case "lookup" =>
        val id = if (rnd.nextInt(10) == 0) gen.randomKey() else gen.randomLiveKey()
        Main.lookup(ctx, model, id)
      case "range" =>
        val lo = 1 + rnd.nextInt(math.max(1, model.baseN - RangeWidth))
        val hi = lo + RangeWidth - 1
        val (rows, ms) = Sql.run(ctx, kind,
          s"SELECT id, salary, lsn FROM ${Main.FullTable} WHERE id BETWEEN $lo AND $hi")
        val got = rows.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
        val want = (lo to hi).flatMap(i => model.get(i).map(r => (i, r.salary, r.lsn)))
        res.check(got == want, s"range [$lo, $hi]: ${got.size} rows, model has ${want.size}")
        ms
      case "agg" =>
        val (rows, ms) = Sql.run(ctx, kind,
          s"SELECT department, count(*), sum(salary) FROM ${Main.FullTable} GROUP BY department")
        val got = rows.map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
        val want = model.deptCount.collect { case (k, n) if n > 0 => k -> (n, model.deptSalary(k)) }.toMap
        res.check(got == want, s"department aggregate $got, model says $want")
        ms
      case "changes" =>
        val (rows, ms) = Sql.run(ctx, kind,
          s"SELECT change_op, count(*) FROM graft_table_changes('${Main.FullTable}', ${head - 1}, $head) " +
            "GROUP BY change_op")
        val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        res.check(got == versionChanges(head), s"changes ${head - 1}..$head: $got, model says ${versionChanges(head)}")
        ms
      case "timetravel" =>
        val v = head - 1
        val (rows, ms) = Sql.run(ctx, kind,
          s"SELECT count(*), coalesce(sum(salary), 0L) FROM ${Main.FullTable} VERSION AS OF $v")
        val got = (rows.head.getLong(0), rows.head.getLong(1))
        res.check(got == versionStats(v), s"version $v: $got, model says ${versionStats(v)}")
        ms
      case "update" =>
        val id = gen.randomLiveKey()
        val cur = model.get(id).get
        val lsn = gen.takeLsn()
        val salary = 10000 + rnd.nextInt(140001)
        val (_, ms) = Sql.run(ctx, kind,
          s"UPDATE ${Main.FullTable} SET salary = $salary, lsn = $lsn WHERE id = $id")
        model.apply(cur.copy(salary = salary, lsn = lsn))
        committed(Map("u" -> 1L))
        ms
      case "delete" =>
        val ids = distinctLiveKeys(3)
        val (_, ms) = Sql.run(ctx, kind, s"DELETE FROM ${Main.FullTable} WHERE id IN (${ids.mkString(", ")})")
        // the model only orders by lsn; any lsn above the row's marks the delete
        ids.foreach { id => val r = model.get(id).get; model.apply(r.copy(lsn = gen.takeLsn(), deleted = true)) }
        committed(Map("d" -> ids.size.toLong))
        ms
      case "merge" =>
        val upd = distinctLiveKeys(2).map(id => (model.get(id).get, gen.takeLsn(), 10000 + rnd.nextInt(140001)))
        val newId = gen.freshId()
        val newLsn = gen.takeLsn()
        val seed = model.seed
        val ins = Rec(newId, Emp.department(seed, newId, newLsn), Emp.salary(seed, newId, newLsn), "c",
          newLsn, Emp.TsBase + newLsn)
        def tuple(id: Int, dept: String, salary: Int, lsn: Long, ts: Long) =
          s"($id, '${Emp.fullName(seed, id)}', '${Emp.email(seed, id)}', '${Emp.phone(seed, id)}', " +
            s"'$dept', $salary, ${Emp.createdAt(seed, id)}, ${lsn}L, ${ts}L)"
        val values = (upd.map { case (r, lsn, sal) => tuple(r.id, r.department, sal, lsn, r.tsMs) } :+
          tuple(ins.id, ins.department, ins.salary, ins.lsn, ins.tsMs)).mkString(", ")
        val (_, ms) = Sql.run(ctx, kind,
          s"""MERGE INTO ${Main.FullTable} t
             |USING (SELECT * FROM VALUES $values
             |  AS s(id, full_name, email, phone, department, salary, created_at, lsn, ts_ms)) s
             |ON t.id = s.id
             |WHEN MATCHED THEN UPDATE SET salary = s.salary, lsn = s.lsn
             |WHEN NOT MATCHED THEN INSERT ($cols)
             |  VALUES (s.id, s.full_name, s.email, s.phone, s.department, s.salary, s.created_at, 'c',
             |          s.lsn, s.ts_ms)""".stripMargin)
        upd.foreach { case (r, lsn, sal) => model.apply(r.copy(salary = sal, lsn = lsn)) }
        model.apply(ins)
        committed(Map("u" -> upd.size.toLong, "i" -> 1L))
        ms
    }

    /** Round `r` in a seeded order. */
    def round(r: Int): Seq[String] = {
      val kinds = mutable.ArrayBuffer.from(if (r % 2 == 1) Round.map(k => if (k == "merge") AltWrite else k) else Round)
      (kinds.size - 1 to 1 by -1).foreach { i =>
        val j = rnd.nextInt(i + 1)
        val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      }
      kinds.toSeq
    }

    // warm-up, untimed: each write twice (the first gives the change feed
    // and time travel two versions to read; after one run a write still
    // takes about 40% longer), then each kind of read, so the first timed
    // statements do not pay for code the JIT has not compiled
    val warmUp = Seq.fill(2)(Seq("update", "merge", AltWrite)).flatten ++ Round.filter(Sql.Reads.contains).distinct
    warmUp.foreach(k => statement(k))

    val reads = mutable.ArrayBuffer.empty[Double]
    // space amplification after each timed write: the layout depends on
    // which buckets each write touched, so one reading is a single draw
    val amps = mutable.ArrayBuffer.empty[Double]
    val writes = mutable.ArrayBuffer.empty[Double]
    val rounds = math.max(MinRounds, ctx.args.seconds / RoundSeconds)
    val gc0 = Tracer.gcMs()
    val changed0 = changedRows
    (0 until rounds).foreach { r =>
      round(r).foreach { kind =>
        val ms = statement(kind)
        if (Sql.Reads.contains(kind)) reads += ms
        else {
          writes += ms
          res.check(ok = true, kind) // checked by the reads after it and the final gate
          amps += Main.spaceAmp(ctx, d.table)
        }
      }
    }
    // the client's busy time: its statements, without the untimed checks
    val wallS = (reads.sum + writes.sum) / 1000.0
    val gcMs = Tracer.gcMs() - gc0
    res.detail("statements") = reads.size + writes.size
    res.detail("reads") = reads.size
    res.detail("writes") = writes.size
    res.detail("warmup_statements") = warmUp.size
    res.detail("versions") = head + 1

    Main.checkTable(ctx, model)
    val read50 = Stats.median(reads.toSeq)
    val write50 = Stats.median(writes.toSeq)
    res.put("read_p50_ms", read50, "ms")
    res.put("write_p50_ms", write50, "ms")
    // a write is visible to the next statement the moment it returns
    res.put("fresh_p50_ms", write50, "ms")
    res.put("ops_per_s", (reads.size + writes.size) / wallS, "ops/s")
    res.put("events_per_s", (changedRows - changed0) / wallS, "events/s")
    res.put("space_amp", Stats.median(amps.toSeq), "ratio")
    res.detail("rounds") = rounds
    res.detail("read_ms") = reads.toSeq
    res.detail("write_ms") = writes.toSeq
    Stats.percentile(reads.toSeq, 0.9).foreach(v => res.detail("read_p90_ms") = v)

    if (ctx.args.trace) {
      ctx.tracer.drain()
      Sql.layerMetrics(ctx)
      res.put("sources.versions", (head + 1).toDouble, "count")
      res.put("spark.gc_ms", gcMs.toDouble, "ms")
      res.put("trace.read_p50_ms", read50, "ms")
      res.put("trace.write_p50_ms", write50, "ms")
      res.put("trace.fresh_p50_ms", write50, "ms")
      res.put("trace.events_per_s", (changedRows - changed0) / wallS, "events/s")
    }
  }
}
