package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** What one run measured and how it went. `attempted` counts operations
  * (segments, statements, read probes, the final table check); each one
  * whose outcome was wrong or that threw counts as `failed`. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val detail: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Record one operation's outcome; a mismatch is logged to stderr. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"perfbench: WRONG $what") }
  }
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val tracer: Tracer, val result: Result) {
  def seed: Long = args.seed
  /** Rows each lookup returned, in issue order (for lookup selectivity). */
  val lookupRows: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty

  /** Wall seconds of `f`. */
  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        runDir: Path, resultsDir: Path, cpus: Int, heap: String) {
    /** Spark's worker threads: half the CPUs, so that the thread that
      * plans and schedules jobs, the JIT compiler and the collector find a
      * free CPU instead of queueing behind tasks. */
    def workers: Int = math.max(1, cpus / 2)
  }

  val Workloads: Seq[String] = Seq("ingest", "serve")

  /** The catalog every workload reads and writes the table through. */
  val Catalog = "graft_cdc"
  val Table = "employees"

  /** End-to-end metrics, printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "events/s", "fresh_p50_ms" -> "ms",
    "read_p50_ms" -> "ms", "write_p50_ms" -> "ms", "ops_per_s" -> "ops/s",
    "rss_peak_mb" -> "MB", "space_amp" -> "ratio")

  /** Per-layer metrics, printed by every traced run. */
  val PerLayer: Seq[(String, String)] = Seq(
    "cdc.deltastream.trigger_ms" -> "ms", "cdc.deltastream.add_batch_ms" -> "ms",
    "cdc.deltastream.loop_ms" -> "ms", "cdc.deltastream.latest_offset_ms" -> "ms",
    "cdc.deltastream.self_ms" -> "ms",
    "cdc.filegroups.commit_ms" -> "ms", "cdc.filegroups.commit_jobs" -> "count",
    "cdc.filegroups.commit_tasks" -> "count", "cdc.filegroups.commit_gap_ms" -> "ms",
    "cdc.filegroups.fs_ops" -> "count", "cdc.filegroups.commit_cpu_ms" -> "ms",
    "cdc.filegroups.rows_written" -> "count", "cdc.filegroups.bytes_written" -> "bytes",
    "cdc.filegroups.files_written" -> "count", "cdc.filegroups.shuffle_bytes" -> "bytes",
    "cdc.filegroups.spill_bytes" -> "bytes", "cdc.filegroups.write_amp" -> "ratio",
    "cdc.filegroups.dirty_buckets" -> "count", "cdc.filegroups.dirty_ratio" -> "ratio",
    "cdc.ingest.decode_ms" -> "ms", "cdc.ingest.decode_cpu_ms" -> "ms",
    "cdc.merge.precombine_ms" -> "ms",
    "sources.lookup_ms" -> "ms", "sources.range_ms" -> "ms", "sources.agg_ms" -> "ms",
    "sources.changes_ms" -> "ms", "sources.timetravel_ms" -> "ms", "sources.plan_ms" -> "ms",
    "sources.lookup_bytes_read" -> "bytes", "sources.lookup_selectivity" -> "ratio",
    "sources.update_ms" -> "ms", "sources.delete_ms" -> "ms", "sources.merge_ms" -> "ms",
    "sources.write_jobs" -> "count", "sources.versions" -> "count",
    "spark.gc_ms" -> "ms",
    "trace.events_per_s" -> "events/s", "trace.fresh_p50_ms" -> "ms",
    "trace.read_p50_ms" -> "ms", "trace.write_p50_ms" -> "ms")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("run-dir")).toAbsolutePath, Paths.get(need("results-dir")).toAbsolutePath,
      need("cpus").toInt, m.getOrElse("heap", "?"))
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b
      .master(s"local[${a.workers}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.workers.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.runDir.resolve("spark-warehouse").toString)
      .config("spark.local.dir", a.runDir.resolve("spark-local").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The post-image schema `Ingest.extractPostImage` produces for the
    * employees envelope; the preload writes the same shape. */
  val TableSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("full_name", StringType),
    StructField("email", StringType), StructField("phone", StringType),
    StructField("department", StringType), StructField("salary", IntegerType),
    StructField("created_at", IntegerType), StructField("op", StringType),
    StructField("lsn", LongType), StructField("ts_ms", LongType),
    StructField("kafka_ts", TimestampType), StructField("created_date", DateType)))

  /** Create the table at version 0 holding ids `1..n` (op `r`, `lsn = id`),
    * through the file-group commit the stream itself uses. */
  def preload(ctx: Ctx, tableDir: String, n: Int): Unit = {
    val seed = ctx.seed
    val rows = ctx.spark.sparkContext.parallelize(1 to n, ctx.args.workers).map { id =>
      val r = Model.baseRec(seed, id)
      val ca = Emp.createdAt(seed, id)
      Row(id, Emp.fullName(seed, id), Emp.email(seed, id), Emp.phone(seed, id), r.department,
        r.salary, ca, r.op, r.lsn, r.tsMs, new java.sql.Timestamp(r.tsMs),
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(ca.toLong)))
    }
    graft.cdc.FileGroups.commit(ctx.spark, tableDir, ctx.spark.createDataFrame(rows, TableSchema),
      0L, Seq("id"), Seq("lsn"), 16)
  }

  def registerCatalog(spark: SparkSession, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$Catalog", classOf[graft.sources.FileGroupCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Catalog.root", root)
  }

  val FullTable = s"$Catalog.$Table"

  /** Final-state gate: the table read through the catalog must equal the
    * model by row count and order-independent hash. */
  def checkTable(ctx: Ctx, model: Model): Unit = {
    val got = ctx.spark.sql(Model.hashSql(FullTable)).collect().head
    val want = model.tableHash
    val have = (got.getLong(0), got.getLong(1), got.getLong(2))
    ctx.result.check(have == want, s"final table (count, hash sum, hash xor) = $have, model says $want")
    ctx.result.detail("table_rows") = want._1
  }

  /** One point lookup through the catalog, checked against the model;
    * returns its latency in ms. */
  def lookup(ctx: Ctx, model: Model, id: Int): Double = {
    val (rows, ms) = Sql.run(ctx, "lookup",
      s"SELECT ${Model.Columns.mkString(", ")} FROM $FullTable WHERE id = $id")
    val want = model.get(id).map(r => Seq[Any](r.id, Emp.fullName(model.seed, id), Emp.email(model.seed, id),
      Emp.phone(model.seed, id), r.department, r.salary, Emp.createdAt(model.seed, id), r.op, r.lsn, r.tsMs))
    ctx.result.check(rows.map(_.toSeq).toSeq == want.toSeq, s"lookup id=$id got ${rows.toSeq} want $want")
    ms
  }

  /** Bytes of the regular files under `p` (or of `p` itself). */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum

  /** Bytes under the table directory ÷ bytes of the file groups the head
    * version references (`CALL <catalog>.show_file_groups`; each path is
    * a bucket directory relative to the table). */
  def spaceAmp(ctx: Ctx, tableDir: Path): Double = {
    val refs = ctx.spark.sql(s"CALL $Catalog.show_file_groups('$Table')").collect()
      .map(_.getAs[String]("path"))
    val live = refs.map(p => bytesUnder(tableDir.resolve(p))).sum
    bytesUnder(tableDir).toDouble / live
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists(_))
    }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonAny(v: Any): String = v match {
    case d: Double => jsonNum(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonStr(k.toString) + ":" + jsonAny(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(jsonAny).mkString("[", ",", "]")
    case null => "null"
    case o => jsonStr(o.toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.runDir)
    Files.createDirectories(a.resultsDir)
    val t0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = new Result
    val tracer = new Tracer(spark.sparkContext, a.trace)
    val ctx = new Ctx(spark, a, tracer, result)
    var error: Option[Throwable] = None
    try {
      a.workload match {
        case "ingest" => Pipeline.run(ctx, sessionS)
        case "serve" => Serve.run(ctx, sessionS)
      }
    } catch {
      case e: Throwable =>
        error = Some(e)
        e.printStackTrace()
    }
    result.put("rss_peak_mb", Tracer.rssPeakMb(), "MB")
    tracer.stop()
    // a layer the workload does not reach reads 0 in a traced run
    if (a.trace && error.isEmpty)
      PerLayer.foreach { case (name, unit) => if (!result.metrics.contains(name)) result.put(name, 0.0, unit) }

    val wanted = if (a.trace) PerLayer else EndToEnd
    val missing = wanted.map(_._1).filterNot(result.metrics.contains)
    if (missing.nonEmpty) System.err.println(s"perfbench: no value for ${missing.mkString(", ")}")
    val correct = error.isEmpty && missing.isEmpty && result.failed == 0 && result.attempted > 0
    val metricsJson = wanted.map { case (name, unit) =>
      val v = result.metrics.get(name).map(_._1).getOrElse(0.0)
      s"${jsonStr(name)}:{\"value\":${jsonNum(v)},\"unit\":${jsonStr(unit)}}"
    }.mkString("{", ",", "}")
    val attempted = math.max(1L, result.attempted)
    val failed = if (error.isDefined && result.failed == 0) 1L else result.failed

    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> a.cpus, "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap" -> a.heap,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString)
    val detail = mutable.LinkedHashMap[String, Any](
      "env" -> env, "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "error" -> error.map(_.toString).orNull,
      "metrics" -> result.metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "detail" -> result.detail)
    if (a.trace) {
      val spans = tracer.allSpans
      val self = Stats.selfTimes(spans)
      detail("self_ms_by_span") = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
      detail("spans") = spans.map(s => mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    val stamp = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(a.resultsDir.resolve(s"$stamp.json"), jsonAny(detail) + "\n")
    System.err.println(s"perfbench: env ${jsonAny(env)}")

    try spark.stop() catch { case _: Throwable => () }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$metricsJson}""")
    System.out.flush()
    sys.exit(0)
  }
}
