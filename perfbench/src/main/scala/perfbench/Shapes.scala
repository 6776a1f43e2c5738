package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** One dashboard read: a shape over one tenant's last `lookback` micros
  * (`point` is the row a point lookup targets). */
final case class Read(shape: String, tenant: String, lookback: Long,
    point: Option[Ev]) {
  def label: String = s"$shape/$tenant/${Shapes.lookbackName(lookback)}"
}

/** The six dashboard shapes of the reference's parity bench
  * (count window, recent page, time bucket, top-N, selective filter,
  * point lookup). Each shape has an engine form, run through the code
  * under test, and an oracle form over the model's rows; both render the
  * answer as the same canonical lines, so a check is one comparison. */
object Shapes {
  type Answer = Vector[String]

  val names: Seq[String] = Seq("count_window", "recent_page", "time_bucket",
    "top_n", "filter_error", "point_lookup")

  val lookbacks: Seq[Long] = Seq(Time.Hour, 6 * Time.Hour, Time.Day, 3 * Time.Day)
  def lookbackName(lb: Long): String =
    if (lb % Time.Day == 0) s"${lb / Time.Day}d"
    else if (lb % Time.Hour == 0) s"${lb / Time.Hour}h"
    else s"${lb / 1000000}s"

  /** BASELINE.md's recent_page: `ORDER BY timestamp DESC LIMIT 100`. */
  val PageSize = 100
  val TopN = 5
  /** BASELINE.md's timeseries shape: `time_bucket('5 min')`. */
  val BucketWidth = "5 minutes"

  // The read mix is a fixed cycle of 24 reads: every shape over every
  // lookback once, tenants in turn. Every run thus issues the same reads
  // in the same order; the seed drives the data and the point-lookup
  // targets. The even weighting is an assumption: no measured dashboard
  // traffic mix is available to replace it.
  /** The `i`-th read of the cycle. */
  def draw(i: Int, g: Gen, model: Model, now: Long): Read =
    readOf(names(i % 6), lookbacks((i / 6) % 4), g.tenants(i % 4), g, model, now)

  /** A read of `shape` over `lookback` for `tenant`. A point lookup
    * targets a live row of the tenant inside the window, as a dashboard
    * opens one span of the range it shows; so the window, not the
    * target's random age, decides whether the hot tier serves it. */
  def readOf(shape: String, lookback: Long, tenant: String, g: Gen,
      model: Model, now: Long): Read =
    if (shape == "point_lookup")
      Read(shape, tenant, lookback, Some(model.sample(g, e =>
        e.project_id == tenant && e.micros >= now - lookback)))
    else Read(shape, tenant, lookback, None)

  private def ts(us: Long): Column = lit(Time.ldt(us))

  /** The tenant + time-window predicate every windowed shape applies. */
  def window(q: Read, now: Long): Column =
    col("project_id") === q.tenant && col("timestamp") >= ts(now - q.lookback)

  private def pointPred(e: Ev): Column =
    col("project_id") === e.project_id &&
      col("timestamp") === lit(e.timestamp) && col("id") === e.id

  private def micros(r: Row, i: Int): Long =
    Time.micros(r.getAs[LocalDateTime](i))

  /** The page of a recent_page read, as a frame over `v` (the shape the
    * buffered view serves; the committed table serves it through
    * `GraftTable.recentPage`). */
  def page(v: DataFrame, pred: Column): DataFrame =
    v.filter(pred).orderBy(col("timestamp").desc, col("id")).limit(PageSize)

  def pageAnswer(rows: Array[Row]): Answer =
    rows.toVector.map(r => s"${Time.micros(r.getAs[LocalDateTime]("timestamp"))} ${r.getAs[String]("id")}")

  /** Run shape `q` on the resolved view `v` and render its answer. */
  def engine(q: Read, v: DataFrame, now: Long): Answer = {
    val w = window(q, now)
    q.shape match {
      case "count_window" =>
        val rs = v.filter(w).agg(count(lit(1))).collect()
        Vector(rs.head.getLong(0).toString)
      case "recent_page" => pageAnswer(page(v, w).collect())
      case "time_bucket" =>
        val rs = v.filter(w)
          .groupBy(graft.functions.F.time_bucket(BucketWidth,
            col("timestamp")).as("b"))
          .agg(count(lit(1)).as("n")).collect()
        rs.toVector.map(r => (micros(r, 0), r.getLong(1))).sorted
          .map { case (b, n) => s"$b $n" }
      case "top_n" =>
        val rs = v.filter(w).groupBy("name").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("name")).limit(TopN).collect()
        rs.toVector.map(r => s"${r.getString(0)} ${r.getLong(1)}")
      case "filter_error" =>
        val rs = v.filter(w && col("status_code") === "ERROR")
          .agg(count(lit(1)), coalesce(sum("duration"), lit(0L))).collect()
        Vector(s"${rs.head.getLong(0)} ${rs.head.getLong(1)}")
      case "point_lookup" =>
        val rs = v.filter(pointPred(q.point.get))
          .select("name", "duration", "status_code", "hashes").collect()
        rs.toVector.map(r => s"${r.getString(0)} ${r.getLong(1)} " +
          s"${r.getString(2)} ${r.getSeq[String](3).mkString(",")}")
    }
  }

  /** The same answer computed directly from the model's rows. */
  def oracle(q: Read, rows: Iterable[Ev], now: Long): Answer = {
    val since = now - q.lookback
    def inWindow = rows.iterator
      .filter(e => e.project_id == q.tenant && e.micros >= since)
    q.shape match {
      case "count_window" => Vector(inWindow.size.toString)
      case "recent_page" =>
        inWindow.toVector.sortBy(e => (-e.micros, e.id)).take(PageSize)
          .map(e => s"${e.micros} ${e.id}")
      case "time_bucket" =>
        val w = graft.functions.Intervals.parseToMicros(BucketWidth)
        inWindow.toVector.groupBy(e => e.micros - Math.floorMod(e.micros, w))
          .toVector.map { case (b, es) => (b, es.size.toLong) }.sorted
          .map { case (b, n) => s"$b $n" }
      case "top_n" =>
        inWindow.toVector.groupBy(_.name).toVector
          .map { case (n, es) => (n, es.size.toLong) }
          .sortBy { case (n, c) => (-c, n) }.take(TopN)
          .map { case (n, c) => s"$n $c" }
      case "filter_error" =>
        val es = inWindow.filter(_.status_code == "ERROR").toVector
        Vector(s"${es.size} ${es.map(_.duration).sum}")
      case "point_lookup" =>
        val p = q.point.get
        rows.iterator.filter(e => e.key == p.key && e.project_id == p.project_id)
          .toVector.map(e => s"${e.name} ${e.duration} ${e.status_code} " +
            e.hashes.mkString(","))
    }
  }

  /** A deliberately wrong copy of an engine answer (`--plant`): proves the
    * check compares content, not just shape. */
  def corrupt(a: Answer): Answer =
    if (a.isEmpty) Vector("planted-row")
    else a.updated(0, a(0).reverse + "0")
}
