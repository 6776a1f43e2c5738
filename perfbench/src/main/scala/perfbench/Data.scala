package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.collection.mutable

/** One `otel_logs_and_spans` row as the client writes it: the columns the
  * dashboard shapes read. Every other column of the table schema is
  * null-filled by the table's conform step. */
final case class Ev(
    project_id: String,
    timestamp: LocalDateTime,
    id: String,
    name: String,
    kind: String,
    status_code: String,
    level: String,
    duration: Long,
    resource___service___name: String,
    hashes: Seq[String]) {
  def key: (String, Long) = (id, Time.micros(timestamp))
  def micros: Long = Time.micros(timestamp)
  /** Logical size of the row as a user sends it (UTF-8 text + 8-byte
    * numbers); the base of `table.write_amp`. */
  def userBytes: Long =
    project_id.length + 8 + id.length + name.length + kind.length +
      status_code.length + level.length + 8 +
      resource___service___name.length + hashes.map(_.length).sum
}

object Time {
  val Hour: Long = 3600L * 1000000
  val Day: Long = 24 * Hour
  /** The virtual "now" every workload starts at (GraftClock is frozen). */
  val T0: Long = micros(LocalDateTime.of(2025, 3, 31, 0, 0))
  def micros(t: LocalDateTime): Long =
    t.toEpochSecond(ZoneOffset.UTC) * 1000000L + t.getNano / 1000
  def ldt(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)
}

/** Seeded input generator. The workloads draw every input from it, so one
  * seed gives one sequence of rows, operations and parameters. */
final class Gen(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def uniform(): Double = r.nextDouble()
  def int(n: Int): Int = r.nextInt(n)
  def long(): Long = r.nextLong()

  /** Index drawn with the given relative weights. */
  def weighted(ws: Seq[Double]): Int = {
    var x = r.nextDouble() * ws.sum
    var i = 0
    while (i < ws.length - 1 && x >= ws(i)) { x -= ws(i); i += 1 }
    i
  }
  def pick[T](xs: Seq[T], ws: Seq[Double]): T = xs(weighted(ws))

  // Tenant sizes are skewed: the largest tenant holds half of the rows.
  // BASELINE.md reports a whale tenant beside normal ones but not the
  // shape of the skew, so these proportions (like the payload mix below:
  // 8 % errors, Zipf-like names) are assumptions.
  val tenants: Seq[String] = (0 until 4).map(i => f"tenant-$i%02d")
  val tenantWeights: Seq[Double] = Seq(50, 25, 15, 10)
  private val names = (0 until 12).map(i => f"GET /api/v1/endpoint-$i%02d")
  private val nameWeights = names.indices.map(i => 1.0 / (i + 1))
  private val services = Seq("api", "worker", "gateway", "billing")

  def tenant(): String = pick(tenants, tenantWeights)

  /** A fresh row for `tenant` at event time `tsMicros`. */
  def row(tenant: String, tsMicros: Long): Ev = {
    val err = r.nextDouble() < 0.08
    Ev(tenant, Time.ldt(tsMicros), f"${r.nextLong()}%016x",
      pick(names, nameWeights), if (r.nextBoolean()) "server" else "client",
      if (err) "ERROR" else if (r.nextDouble() < 0.85) "OK" else "UNSET",
      if (err) "error" else if (r.nextDouble() < 0.1) "warn" else "info",
      (math.exp(10 + 2 * r.nextDouble() + r.nextDouble()) ).toLong,
      services(r.nextInt(services.length)), Seq.empty)
  }

  /** A new payload for an existing identity (a re-sent span). */
  def resend(e: Ev): Ev = {
    val f = row(e.project_id, e.micros)
    f.copy(id = e.id)
  }

  /** Event time `0 .. maxAgeMicros` before `now`, biased towards recent
    * (age = max × u², so half the rows are younger than a quarter of it). */
  def recentTs(now: Long, maxAgeMicros: Long): Long = {
    val u = r.nextDouble()
    now - (maxAgeMicros * u * u).toLong - 1
  }
}

/** The in-memory model of the table: identity -> latest row, tombstones
  * removed. It is the oracle every read is checked against; it never goes
  * through the code under test. */
final class Model {
  private val rows = mutable.LinkedHashMap.empty[(String, Long), Ev]
  private val keys = mutable.ArrayBuffer.empty[(String, Long)]
  var userBytes = 0L

  def size: Int = rows.size
  def live: Iterable[Ev] = rows.values
  def get(k: (String, Long)): Option[Ev] = rows.get(k)

  def put(e: Ev): Unit = {
    if (!rows.contains(e.key)) keys += e.key
    rows(e.key) = e
    userBytes += e.userBytes
  }
  def delete(k: (String, Long)): Unit = rows.remove(k)

  /** A live row drawn at random among those `p` accepts (for point
    * lookups, re-sends, DML). */
  def sample(g: Gen, p: Ev => Boolean = _ => true): Ev = {
    var tries = 0
    var k = keys(g.int(keys.length))
    while (!rows.get(k).exists(p)) {
      tries += 1
      require(tries < 1000000, "no live row matches the sample predicate")
      k = keys(g.int(keys.length))
    }
    rows(k)
  }
}
