package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.cdc.{CdcMerge, DeltaStream, FileGroups, Ingest}

/** `ingest`: a Debezium topic drained into the file-group table by one
  * `DeltaStream.run` stream, in the two regimes a stream lives in.
  *
  *  - catch-up: a large segment of mostly updates spread uniformly over
  *    the table, plus serial-id inserts and deletes, drained with
  *    `processAllAvailable`. Every trigger dirties every file group, so
  *    decode, precombine and the parquet rewrite dominate.
  *  - trickle: small segments (inserts of new ids, updates of recent
  *    ids), each landed as soon as the one before it has committed.
  *    Each trigger moves almost no bytes, so freshness is set by the
  *    fixed cost of a trigger and a commit.
  *
  * A closed-loop generator lands the segments in cycles: one catch-up
  * segment, then trickle segments, then point lookups through the
  * catalog. Every metric thus draws its samples from the whole timed
  * part of the run, not from one stretch of it, so a passing slowdown
  * of the machine moves it less. The finished table is checked against
  * the generator's model. */
object Pipeline {
  /** Table size and changes per catch-up segment. */
  val TableRows = 30000
  val CatchupChanges = 5000
  /** One cycle: a catch-up segment, then trickle segments, then point
    * lookups. The count of cycles is fixed before timing — one per
    * `CycleSeconds` of `--seconds`, at least `MinCycles` — so every run
    * of a seed lands the same segments, whatever the machine's speed.
    * Before timing, `WarmUpCatchup` catch-up segments, one trickle
    * segment and one cycle's lookups warm the stream up, unmeasured: the
    * first large triggers run well slower than later ones. */
  val WarmUpCatchup = 3
  val TricklePerCycle = 2
  val ProbesPerCycle = 4
  val CycleSeconds = 6
  val MinCycles = 2
  /** Set-up repetitions per run (set-up time is their median). */
  val SetupReps = 3

  /** Directories of one set-up repetition: the warehouse root the
    * catalog serves, the table under it, the topic and the checkpoint. */
  final case class Dirs(root: Path) {
    val warehouse: Path = root.resolve("warehouse")
    val table: Path = warehouse.resolve(Main.Table)
    val topic: Path = root.resolve("topic")
    val checkpoint: Path = root.resolve("checkpoint")
  }

  /** Set up `SetupReps` times in fresh directories — preload `rows` and
    * build the model — and keep the last. Returns its directories,
    * generator, and set-up seconds: session start plus the median
    * repetition. */
  def setup(ctx: Ctx, rows: Int, sessionS: Double): (Dirs, ChangeGen, Double) = {
    val reps = (1 to SetupReps).map { k =>
      val d = Dirs(ctx.args.runDir.resolve(s"rep$k"))
      Files.createDirectories(d.topic)
      val (gen, s) = ctx.timed {
        Main.preload(ctx, d.table.toString, rows)
        new ChangeGen(ctx.seed, new Model(ctx.seed, rows), d.topic)
      }
      if (k < SetupReps) Main.deleteTree(d.root)
      (d, gen, s)
    }
    ctx.result.detail("setup_reps_s") = reps.map(_._3)
    ctx.result.detail("session_s") = sessionS
    val (d, gen, _) = reps.last
    Main.registerCatalog(ctx.spark, d.warehouse.toString)
    (d, gen, sessionS + Stats.median(reps.map(_._3)))
  }

  /** Progress of every trigger that consumed input. */
  final class Progress extends StreamingQueryListener {
    private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { if (e.progress.numInputRows > 0) buf += e.progress }
    def all: Seq[StreamingQueryProgress] = synchronized(buf.toList.sortBy(_.batchId))
    def rows: Long = all.map(_.numInputRows).sum

    /** Wait until progress covering `n` input rows has been delivered. */
    def await(n: Long): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (rows < n && System.nanoTime() < deadline) Thread.sleep(5)
    }
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def endMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")

  /** What a traced run records about each commit. */
  final case class CommitRec(span: Int, dirty: Int, fsOps: Long, files: Int, bytes: Long)

  /** Start the stream. Untraced runs use the configured door,
    * `DeltaStream.run`; traced runs assemble the same stream from the
    * calls `FileGroups.run` makes, so a span (child of the phase span
    * `phase` holds) can wrap each commit. */
  def start(ctx: Ctx, d: Dirs, phase: AtomicInteger, commits: mutable.ArrayBuffer[CommitRec]): StreamingQuery =
    if (!ctx.args.trace)
      DeltaStream.run(ctx.spark, Map(
        DeltaStream.TableName -> Main.Table,
        DeltaStream.TargetPath -> d.warehouse.toString,
        DeltaStream.SourceDir -> d.topic.toString,
        DeltaStream.CheckpointLocation -> d.checkpoint.toString,
        DeltaStream.SyncCatalog -> Main.Catalog))
    else {
      val tableDir = d.table.toString
      Ingest.readTopicStream(ctx.spark, d.topic.toString).writeStream
        .option("checkpointLocation", d.checkpoint.toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val spark = batch.sparkSession
          val fs0 = Tracer.fsOps()
          val dirty = ctx.tracer.span("cdc.filegroups.commit", phase.get) {
            FileGroups.commitStreamBatch(spark, tableDir, Ingest.extractPostImage(batch), batchId,
              Seq("id"), Seq("lsn"))
          }
          val fsOps = Tracer.fsOps() - fs0
          // commits run one at a time on the stream thread: this one closed last
          val spanId = ctx.tracer.spansNamed("cdc.filegroups.commit").last.id
          val written = FileGroups.committedId(spark, tableDir).map(v => d.table.resolve(s"files/v$v"))
            .filter(p => dirty.nonEmpty && Files.exists(p))
            .map(p => Files.walk(p).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq)
            .getOrElse(Nil)
          commits.synchronized {
            commits += CommitRec(spanId, dirty.size, fsOps, written.size, written.map(Files.size(_)).sum)
          }
          ()
        }
        .start()
    }

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def run(ctx: Ctx, sessionS: Double): Unit = {
    val res = ctx.result
    val tr = ctx.tracer
    val cycles = math.max(MinCycles, ctx.args.seconds / CycleSeconds)
    val (d, gen, setupS) = setup(ctx, TableRows, sessionS)
    res.put("setup_s", setupS, "s")

    val progress = new Progress
    ctx.spark.streams.addListener(progress)
    val commits = mutable.ArrayBuffer.empty[CommitRec]
    val phase = new AtomicInteger(-1)
    val q = start(ctx, d, phase, commits)
    // [start, end) wall instants of each timed catch-up and trickle step
    val catchupSteps = mutable.ArrayBuffer.empty[(Double, Double)]
    val trickleSteps = mutable.ArrayBuffer.empty[(Double, Double)]
    val bulk = mutable.ArrayBuffer.empty[Segment]
    val trickles = mutable.ArrayBuffer.empty[Segment]
    val probes = mutable.ArrayBuffer.empty[Double]
    val amps = mutable.ArrayBuffer.empty[Double]
    var gc0 = 0L

    /** Land `lines` as one segment under a span named `name`, and wait
      * until the stream has committed it; returns the segment and the
      * step's wall interval. */
    def step(name: String, lines: Seq[String]): (Segment, (Double, Double)) = {
      val st = gen.stage(lines, System.currentTimeMillis())
      val (id, close) = tr.begin(name)
      phase.set(id)
      val t = Clock.nowMs()
      try {
        val seg = gen.land(st)
        q.processAllAvailable()
        (seg, (t, Clock.nowMs()))
      } finally close()
    }
    def probe(): Double = {
      val id = if (gen.random.nextInt(4) == 0) gen.randomKey() else gen.randomLiveKey()
      Main.lookup(ctx, gen.model, id)
    }

    try {
      // warm-up, unmeasured: the stream's first trigger pays its start-up
      (1 to WarmUpCatchup).foreach(_ => step("cdc.deltastream.warmup", gen.bulkSegment(CatchupChanges)))
      step("cdc.deltastream.warmup", gen.trickleSegment())
      (1 to ProbesPerCycle).foreach(_ => probe())
      gc0 = Tracer.gcMs()
      (1 to cycles).foreach { _ =>
        val (b, bt) = step("cdc.deltastream.catchup", gen.bulkSegment(CatchupChanges))
        bulk += b; catchupSteps += bt
        // right after a catch-up commit, which rewrites every file group
        amps += Main.spaceAmp(ctx, d.table)
        (1 to TricklePerCycle).foreach { _ =>
          val (t, tt) = step("cdc.deltastream.trickle", gen.trickleSegment())
          trickles += t; trickleSteps += tt
        }
        (1 to ProbesPerCycle).foreach(_ => probes += probe())
      }
    } finally q.stop()
    val gcMs = Tracer.gcMs() - gc0
    val segments = gen.segments.toList
    progress.await(segments.map(_.changes.toLong).sum)
    ctx.spark.streams.removeListener(progress)
    val triggers = progress.all
    def within(steps: Seq[(Double, Double)])(p: StreamingQueryProgress) =
      steps.exists { case (a, b) => endMs(p) > a && endMs(p) <= b }
    val catchupTriggers = triggers.filter(within(catchupSteps.toSeq))
    val trickleTriggers = triggers.filter(within(trickleSteps.toSeq))

    val fresh = Stats.freshness(segments.map(s => (s.landMs, s.changes.toLong)),
      triggers.map(p => Stats.Trigger(endMs(p), p.numInputRows)))
    fresh.zip(segments).foreach { case (f, s) => res.check(f.isDefined, s"segment ${s.index} never committed") }
    val freshOf = segments.map(_.index).zip(fresh).toMap
    // a large segment's drain: from its landing to the end of the trigger that committed it
    val drainMs = bulk.toSeq.flatMap(s => freshOf(s.index))
    val trickleFresh = trickles.toSeq.flatMap(s => freshOf(s.index))
    val bulkChanges = bulk.map(_.changes.toLong).sum
    val drainS = drainMs.sum / 1000.0

    Main.checkTable(ctx, gen.model)

    res.put("events_per_s", bulkChanges / drainS, "events/s")
    res.put("ops_per_s", catchupTriggers.size / drainS, "ops/s")
    res.put("write_p50_ms", med(catchupTriggers.map(dur(_, "triggerExecution"))), "ms")
    res.put("fresh_p50_ms", med(trickleFresh), "ms")
    res.put("read_p50_ms", med(probes.toSeq), "ms")
    res.put("space_amp", med(amps.toSeq), "ratio")
    res.detail("cycles") = cycles
    res.detail("space_amps") = amps.toSeq
    res.detail("catchup_segments") = bulk.size
    res.detail("catchup_changes") = bulkChanges
    res.detail("catchup_drain_ms") = drainMs
    res.detail("catchup_trigger_ms") = catchupTriggers.map(dur(_, "triggerExecution"))
    res.detail("trickle_trigger_ms") = trickleTriggers.map(dur(_, "triggerExecution"))
    res.detail("trickle_fresh_ms") = trickleFresh
    res.detail("read_ms") = probes.toSeq
    res.detail("trickle_segments") = trickles.size
    res.detail("trickle_triggers") = trickleTriggers.size
    Stats.percentile(trickleFresh, 0.9).foreach(v => res.detail("fresh_p90_ms") = v)

    if (ctx.args.trace) {
      tr.drain()
      val spans = tr.spansNamed("cdc.filegroups.commit").map(s => s.id -> s).toMap
      val phaseOf = tr.allSpans.map(s => s.id -> s.name).toMap
      val all = commits.toList.filter(c => spans.contains(c.span))
      def inPhase(name: String) = all.filter(c => phaseOf.get(spans(c.span).parent).contains(name))
      val catchupCommits = inPhase("cdc.deltastream.catchup")
      val trickleCommits = inPhase("cdc.deltastream.trickle")
      def jobs(cs: Seq[CommitRec]) = cs.map(c => tr.jobsOf(c.span))

      // the trickle regime: the fixed cost of a trigger and a commit
      res.put("cdc.deltastream.trigger_ms", med(trickleTriggers.map(dur(_, "triggerExecution"))), "ms")
      res.put("cdc.deltastream.add_batch_ms", med(trickleTriggers.map(dur(_, "addBatch"))), "ms")
      res.put("cdc.deltastream.loop_ms",
        med(trickleTriggers.map(p => dur(p, "triggerExecution") - dur(p, "addBatch"))), "ms")
      res.put("cdc.deltastream.latest_offset_ms", med(trickleTriggers.map(dur(_, "latestOffset"))), "ms")
      res.put("cdc.filegroups.commit_ms", med(trickleCommits.map(c => spans(c.span).durMs)), "ms")
      res.put("cdc.filegroups.commit_jobs", mean(jobs(trickleCommits).map(_.size.toDouble)), "count")
      res.put("cdc.filegroups.commit_tasks", mean(jobs(trickleCommits).map(_.map(_.tasks).sum.toDouble)), "count")
      res.put("cdc.filegroups.commit_gap_ms", med(trickleCommits.map(c => tr.gapMs(spans(c.span)))), "ms")
      res.put("cdc.filegroups.fs_ops", mean(trickleCommits.map(_.fsOps.toDouble)), "count")
      res.put("cdc.filegroups.dirty_buckets", mean(trickleCommits.map(_.dirty.toDouble)), "count")
      res.put("cdc.filegroups.dirty_ratio", mean(trickleCommits.map(_.dirty / 16.0)), "ratio")

      // the catch-up regime: the data path; self time is the phase's own
      // time outside its commits, per commit
      res.put("cdc.deltastream.self_ms",
        if (catchupCommits.isEmpty) 0.0
        else {
          val self = Stats.selfTimes(tr.allSpans)
          tr.spansNamed("cdc.deltastream.catchup").map(s => self(s.id)).sum / catchupCommits.size
        }, "ms")
      val cj = jobs(catchupCommits)
      res.put("cdc.filegroups.commit_cpu_ms", med(cj.map(_.map(_.cpuNs).sum / 1e6)), "ms")
      res.put("cdc.filegroups.rows_written", mean(cj.map(_.map(_.recordsWritten).sum.toDouble)), "count")
      res.put("cdc.filegroups.bytes_written", mean(catchupCommits.map(_.bytes.toDouble)), "bytes")
      res.put("cdc.filegroups.files_written", mean(catchupCommits.map(_.files.toDouble)), "count")
      res.put("cdc.filegroups.shuffle_bytes", mean(cj.map(_.map(_.shuffleBytes).sum.toDouble)), "bytes")
      res.put("cdc.filegroups.spill_bytes", mean(cj.map(_.map(_.spillBytes).sum.toDouble)), "bytes")
      res.put("cdc.filegroups.write_amp",
        catchupCommits.map(_.bytes).sum.toDouble / math.max(1L, bulk.map(_.bytes).sum), "ratio")

      // decode and precombine alone, on the large segments, outside the stream
      bulk.foreach { s =>
        val path = s.path.toString
        tr.span("cdc.ingest.decode", -1) {
          Ingest.extractPostImage(Ingest.readTopicBatch(ctx.spark, path)).write.format("noop").mode("overwrite").save()
        }
        val decoded = Ingest.extractPostImage(Ingest.readTopicBatch(ctx.spark, path)).persist()
        decoded.count()
        tr.span("cdc.merge.precombine", -1) {
          CdcMerge.snapshot(decoded, Seq("id"), Seq("lsn")).write.format("noop").mode("overwrite").save()
        }
        decoded.unpersist()
      }
      tr.drain()
      val dec = tr.spansNamed("cdc.ingest.decode")
      res.put("cdc.ingest.decode_ms", med(dec.map(_.durMs)), "ms")
      res.put("cdc.ingest.decode_cpu_ms", med(dec.map(s => tr.jobsOf(s.id).map(_.cpuNs).sum / 1e6)), "ms")
      res.put("cdc.merge.precombine_ms", med(tr.spansNamed("cdc.merge.precombine").map(_.durMs)), "ms")

      Sql.layerMetrics(ctx)
      res.put("spark.gc_ms", gcMs.toDouble, "ms")
      Seq("events_per_s", "fresh_p50_ms", "read_p50_ms", "write_p50_ms").foreach { m =>
        val (v, unit) = res.metrics(m)
        res.put(s"trace.$m", v, unit)
      }
    }
  }
}
