package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job counters, summed over the job's completed stages. */
final class JobStat(val jobId: Int, val span: Int, val startMs: Double) {
  var endMs: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
}

/** Spans recorded around the harness's calls into each module, plus a
  * `SparkListener` that attributes every job (and its stages' task
  * metrics) to the span open on the submitting thread when it started.
  * Everything stays in memory until the run writes it out. When
  * disabled, `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Stats.Span

  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.HashMap.empty[Int, (String, Int, Double)]
  private var nextId = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, JobStat]
  @volatile private var markerSeen = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
      val j = new JobStat(e.jobId, span, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
      if (jobs.get(e.jobId).exists(_.span == Tracer.MarkerSpan)) markerSeen = true
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).foreach { j =>
        j.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesRead += m.inputMetrics.bytesRead
          j.recordsRead += m.inputMetrics.recordsRead
          j.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` inside a span named `name`; jobs `f` submits from this
    * thread are attributed to it. */
  private def openSpan(name: String, parent: Int): Int = synchronized {
    val i = nextId
    nextId += 1
    open(i) = (name, parent, Clock.nowMs())
    i
  }

  private def closeSpan(id: Int): Unit = synchronized {
    val (n, p, st) = open.remove(id).get
    spans += Span(id, n, p, st, Clock.nowMs())
  }

  def span[T](name: String, parent: Int = -2)(f: => T): T =
    if (!enabled) f
    else {
      val prev = Option(sc.getLocalProperty(SpanProp)).map(_.toInt).getOrElse(-1)
      val id = openSpan(name, if (parent == -2) prev else parent)
      sc.setLocalProperty(SpanProp, id.toString)
      try f
      finally {
        sc.setLocalProperty(SpanProp, if (prev < 0) null else prev.toString)
        closeSpan(id)
      }
    }

  /** Open a root span now and return a closer; used around phases whose
    * body runs on other threads (the stream's commits name it as parent). */
  def begin(name: String): (Int, () => Unit) =
    if (!enabled) (-1, () => ())
    else {
      val id = openSpan(name, -1)
      (id, () => closeSpan(id))
    }

  /** Block until the listener has seen every job submitted so far: the
    * listener bus delivers in order, so a marker job's end proves it. */
  def drain(): Unit = if (enabled) {
    markerSeen = false
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, Tracer.MarkerSpan.toString)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SpanProp, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def spansNamed(name: String): Seq[Span] = allSpans.filter(_.name == name)
  def jobsOf(spanId: Int): Seq[JobStat] = synchronized(jobs.values.filter(_.span == spanId).toList)

  /** Span time during which none of its jobs was running. */
  def gapMs(s: Span): Double = {
    val iv = jobsOf(s.id).map(j => (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs))
    s.durMs - Stats.covered(iv, s.startMs, s.endMs)
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  private val MarkerSpan = -7

  /** Calls into the local file system since JVM start (traced runs only;
    * see [[CountingLocalFileSystem]]). */
  def fsOps(): Long = CountingLocalFileSystem.ops.get()

  /** Accumulated GC time of the JVM in ms. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set size of this process (VmHWM) in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The local file system with each open, create, append, rename,
  * delete, list, mkdir and status call counted. Hadoop's own statistics
  * count no operations for the local file system, so traced runs
  * install this class for the `file` scheme instead. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFileSystem.ops

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(f, bufferSize) }
  override def append(f: Path, bufferSize: Int, p: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.append(f, bufferSize, p)
  }
  override def create(f: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, p: Progressable): FSDataOutputStream = {
    ops.incrementAndGet(); super.create(f, perm, overwrite, bufferSize, replication, blockSize, p)
  }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { ops.incrementAndGet(); super.delete(f, recursive) }
  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def mkdirs(f: Path): Boolean = { ops.incrementAndGet(); super.mkdirs(f) }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
}

object CountingLocalFileSystem {
  val ops = new java.util.concurrent.atomic.AtomicLong
}
