package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Employee attributes as pure functions of (seed, id, version): the
  * generator, the table preload and the model all derive the same row
  * from the same triple, so the model never stores strings. Name,
  * email, phone and created_at depend on the id only; department and
  * salary change with the version. */
object Emp {
  private val firsts = Array("Alice", "Bob", "Carol", "David", "Erin", "Frank", "Grace",
    "Henry", "Irene", "Jack", "Karen", "Liam", "Mona", "Nate", "Olga", "Paul")
  private val lasts = Array("Adams", "Baker", "Clark", "Davis", "Evans", "Foster", "Garcia",
    "Hill", "Irwin", "Jones", "Kim", "Lopez", "Moore", "Nolan", "Owens", "Perez")
  private val domains = Array("example", "acme", "globex", "initech")
  val departments: Array[String] = Array("IT", "HR", "Sales", "Marketing")

  /** Epoch ms that lsn 0 maps to; `ts_ms = TsBase + lsn`. */
  val TsBase = 1685000000000L

  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, id: Int, ver: Long, salt: Int): Long =
    mix(mix(seed ^ salt) ^ (id.toLong << 32) ^ ver)
  private def pick(a: Array[String], x: Long): String =
    a(java.lang.Math.floorMod(x, a.length.toLong).toInt)

  def fullName(seed: Long, id: Int): String =
    pick(firsts, h(seed, id, 0, 1)) + " " + pick(lasts, h(seed, id, 0, 2))
  def email(seed: Long, id: Int): String =
    pick(firsts, h(seed, id, 0, 1)).toLowerCase + "." + pick(lasts, h(seed, id, 0, 2)).toLowerCase +
      "@" + pick(domains, h(seed, id, 0, 3)) + ".com"
  def phone(seed: Long, id: Int): String =
    f"555-${java.lang.Math.floorMod(h(seed, id, 0, 4), 10000L)}%04d"
  def createdAt(seed: Long, id: Int): Int =
    18000 + java.lang.Math.floorMod(h(seed, id, 0, 5), 2000L).toInt
  def department(seed: Long, id: Int, ver: Long): String = pick(departments, h(seed, id, ver, 6))
  def salary(seed: Long, id: Int, ver: Long): Int =
    10000 + java.lang.Math.floorMod(h(seed, id, ver, 7), 140001L).toInt
}

/** The mutable part of one live row; everything else derives from
  * (seed, id). `deleted` marks a tombstone, which keeps its lsn so a
  * late lower-lsn event cannot resurrect the key. */
final case class Rec(id: Int, department: String, salary: Int, op: String, lsn: Long, tsMs: Long,
                     deleted: Boolean = false)

/** Latest-wins-by-lsn model of the table. Ids `1..baseN` are the
  * preloaded rows (version 0, `lsn = id`, op `r`), kept implicit; only
  * rows touched since live in `over`. Row count, salary sum and the
  * per-department aggregates are maintained on every applied change,
  * so checks never scan the model. */
final class Model(val seed: Long, val baseN: Int) {
  private val over = mutable.HashMap.empty[Int, Rec]
  private var rows = 0L
  private var salarySum = 0L
  val deptCount: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long]
  val deptSalary: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long]

  private def add(r: Rec, sign: Int): Unit = {
    rows += sign
    salarySum += sign.toLong * r.salary
    deptCount(r.department) = deptCount.getOrElse(r.department, 0L) + sign
    deptSalary(r.department) = deptSalary.getOrElse(r.department, 0L) + sign.toLong * r.salary
  }
  (1 to baseN).foreach(i => add(Model.baseRec(seed, i), 1))

  private def current(id: Int): Option[Rec] = over.get(id).orElse(
    if (id >= 1 && id <= baseN) Some(Model.baseRec(seed, id)) else None)

  /** The live row for `id`, if any. */
  def get(id: Int): Option[Rec] = current(id).filterNot(_.deleted)

  /** Apply one change, given as the post-image (`deleted` for a delete).
    * Returns false when an equal-or-newer lsn already holds the key. */
  def apply(r: Rec): Boolean = {
    val cur = current(r.id)
    if (cur.exists(_.lsn >= r.lsn)) false
    else {
      cur.filterNot(_.deleted).foreach(add(_, -1))
      if (!r.deleted) add(r, 1)
      over(r.id) = r
      true
    }
  }

  def count: Long = rows
  def salaryTotal: Long = salarySum

  /** Live ids, ascending — the base range minus overrides plus live overrides. */
  def liveIds: Iterator[Int] = {
    val extra = over.iterator.collect { case (id, r) if !r.deleted && id > baseN => id }.toArray.sorted
    (1 to baseN).iterator.filter(i => over.get(i).forall(!_.deleted)) ++ extra.iterator
  }

  /** (row count, sum of pmod(h, 1e9+7), xor of h) over the table, where
    * `h` is Spark's `xxhash64` of the ten model columns — the same
    * figures [[Model.hashSql]] computes in the engine. */
  def tableHash: (Long, Long, Long) = {
    var n = 0L; var sum = 0L; var x = 0L
    liveIds.foreach { id =>
      val hv = Model.rowHash(seed, get(id).get)
      n += 1; sum += java.lang.Math.floorMod(hv, Model.HashMod); x ^= hv
    }
    (n, sum, x)
  }
}

object Model {
  val HashMod = 1000000007L
  val Columns: Seq[String] =
    Seq("id", "full_name", "email", "phone", "department", "salary", "created_at", "op", "lsn", "ts_ms")

  def baseRec(seed: Long, id: Int): Rec =
    Rec(id, Emp.department(seed, id, 0), Emp.salary(seed, id, 0), "r", id.toLong, Emp.TsBase + id)

  /** Spark's `xxhash64(<Columns>)` (seed 42, ints and longs and UTF-8 bytes chained). */
  def rowHash(seed: Long, r: Rec): Long = {
    def s(v: String, h: Long) = XXH64.hashUTF8String(UTF8String.fromString(v), h)
    var hv = XXH64.hashInt(r.id, 42L)
    hv = s(Emp.fullName(seed, r.id), hv)
    hv = s(Emp.email(seed, r.id), hv)
    hv = s(Emp.phone(seed, r.id), hv)
    hv = s(r.department, hv)
    hv = XXH64.hashInt(r.salary, hv)
    hv = XXH64.hashInt(Emp.createdAt(seed, r.id), hv)
    hv = s(r.op, hv)
    hv = XXH64.hashLong(r.lsn, hv)
    XXH64.hashLong(r.tsMs, hv)
  }

  /** The engine-side twin of [[Model.tableHash]] over `table`. */
  def hashSql(table: String): String =
    s"SELECT count(*), coalesce(sum(pmod(h, ${HashMod}L)), 0L), coalesce(bit_xor(h), 0L) FROM " +
      s"(SELECT xxhash64(${Columns.mkString(", ")}) AS h FROM $table)"
}

/** Debezium envelope lines in `CdcGen.toKafkaJsonLines`' shape: one
  * emulated Kafka record per line, the envelope JSON in `value`. */
object Envelope {
  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def image(seed: Long, r: Rec): String =
    s"""{"id":${r.id},"full_name":${q(Emp.fullName(seed, r.id))},"email":${q(Emp.email(seed, r.id))},""" +
      s""""phone":${q(Emp.phone(seed, r.id))},"department":${q(r.department)},"salary":${r.salary},""" +
      s""""created_at":${Emp.createdAt(seed, r.id)}}"""

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def line(seed: Long, op: String, before: Option[Rec], after: Option[Rec], lsn: Long,
           offset: Long): String = {
    val ts = Emp.TsBase + lsn
    val value =
      s"""{"payload":{"before":${before.map(image(seed, _)).getOrElse("null")},""" +
        s""""after":${after.map(image(seed, _)).getOrElse("null")},""" +
        s""""source":{"version":"2.2.0.Final","connector":"postgresql","name":"debezium1",""" +
        s""""ts_ms":$ts,"snapshot":"false","db":"railway","schema":"public","table":"employees",""" +
        s""""txId":${lsn / 50 + 500},"lsn":$lsn},"op":"$op","ts_ms":$ts}}"""
    s"""{"value":${q(value)},"topic":"debezium1.public.employees","partition":0,""" +
      s""""offset":$offset,"timestamp":"${tsFormat.format(java.time.Instant.ofEpochMilli(ts))}"}"""
  }
}

/** One landed topic segment: its file, change count, byte size and
  * the wall-clock instant (epoch ms, sub-ms precision) it became
  * visible in the topic directory. */
final case class Segment(index: Int, path: Path, changes: Int, bytes: Long, landMs: Double)

/** A segment written under its hidden name, not yet landed. */
final case class Staged(index: Int, tmp: Path, dst: Path, changes: Int, bytes: Long)

/** Seeded, single-threaded change generator. Every change is applied
  * to the [[Model]] as it is generated, so the model is always the
  * table the landed segments describe. */
final class ChangeGen(seed: Long, val model: Model, topicDir: Path) {
  private val rnd = new SplittableRandom(Emp.mix(seed ^ 0x5EEDL))
  private var nextId = model.baseN + 1
  private var lsn = model.baseN.toLong + 1000L
  private var offset = 0L
  private var staged = 0
  /** Every segment landed so far, in landing order. */
  val segments: mutable.ArrayBuffer[Segment] = mutable.ArrayBuffer.empty

  private def nextLsn(): Long = { lsn += 1; lsn }

  /** A uniformly drawn live key among `[lo, nextId)`. */
  private def liveKey(lo: Int): Int = {
    var id = lo + rnd.nextInt(nextId - lo)
    while (model.get(id).isEmpty) id = lo + rnd.nextInt(nextId - lo)
    id
  }

  private def emit(op: String, before: Option[Rec], after: Rec): String = {
    model.apply(after)
    val l = Envelope.line(seed, op, before, if (after.deleted) None else Some(after), after.lsn, offset)
    offset += 1
    l
  }

  def insert(): String = {
    val id = nextId; nextId += 1
    val l = nextLsn()
    emit("c", None, Rec(id, Emp.department(seed, id, l), Emp.salary(seed, id, l), "c", l, Emp.TsBase + l))
  }

  def update(id: Int): String = {
    val before = model.get(id)
    val l = nextLsn()
    emit("u", before, Rec(id, Emp.department(seed, id, l), Emp.salary(seed, id, l), "u", l, Emp.TsBase + l))
  }

  def delete(id: Int): String = {
    val before = model.get(id).get
    val l = nextLsn()
    emit("d", Some(before), before.copy(op = "d", lsn = l, tsMs = Emp.TsBase + l, deleted = true))
  }

  /** A catch-up segment: `n` changes, mostly updates spread uniformly
    * over all live keys, plus serial-id inserts and deletes. */
  def bulkSegment(n: Int): Seq[String] = Seq.fill(n) {
    val u = rnd.nextDouble()
    if (u < 0.85) update(liveKey(1))
    else if (u < 0.95) insert()
    else delete(liveKey(1))
  }

  /** A trickle segment: 10-20 changes, half inserts of new ids and half
    * updates of ids among the most recent `window`. */
  def trickleSegment(window: Int = 1000): Seq[String] = Seq.fill(10 + rnd.nextInt(11)) {
    if (rnd.nextBoolean()) insert() else update(liveKey(math.max(1, nextId - window)))
  }

  /** Write `lines` as the next segment under a hidden name, which the
    * file source skips, and pin its modification time (the source takes
    * the oldest file first). [[land]] makes it visible. */
  def stage(lines: Seq[String], mtimeMs: Long): Staged = {
    val name = f"seg-$staged%06d.json"
    val tmp = topicDir.resolve("." + name + ".tmp")
    val bytes = (lines.mkString("\n") + "\n").getBytes(UTF_8)
    Files.write(tmp, bytes)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(mtimeMs))
    staged += 1
    Staged(staged - 1, tmp, topicDir.resolve(name), lines.size, bytes.length.toLong)
  }

  /** Land a staged segment atomically: one rename into its visible name. */
  def land(st: Staged): Segment = {
    Files.move(st.tmp, st.dst, StandardCopyOption.ATOMIC_MOVE)
    val seg = Segment(st.index, st.dst, st.changes, st.bytes, Clock.nowMs())
    segments += seg
    seg
  }

  /** Stage and land `lines` now. */
  def land(lines: Seq[String]): Segment = land(stage(lines, System.currentTimeMillis()))

  /** A serial id never used yet (for SQL inserts). */
  def freshId(): Int = { val id = nextId; nextId += 1; id }
  /** A live key drawn uniformly (for SQL reads and writes). */
  def randomLiveKey(): Int = liveKey(1)
  def randomKey(): Int = 1 + rnd.nextInt(nextId - 1)
  def takeLsn(): Long = nextLsn()
  def random: SplittableRandom = rnd
}

object Clock {
  /** Wall clock in epoch ms with sub-ms precision. */
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }
}
