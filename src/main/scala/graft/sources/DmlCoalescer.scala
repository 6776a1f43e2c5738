package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Pin

/** Deferred, batched `UPDATE … FROM` — the reference's DML coalescer
  * (`/root/reference/src/dml_coalescer.rs:1-35`), re-expressed for the
  * version-append MOR table.
  *
  * Why: one commit version per statement (the reference observes ~1.4k
  * tag-update statements/hr) means thousands of tiny versions a day —
  * small files, marker-listing growth, compaction starvation. Statements
  * whose (table, join keys, assignment expressions, source schema) match
  * differ only in WHICH rows they carry, so they fold into one append.
  *
  * Semantics mirrored from the reference:
  *
  *  - statements group by (table, join keys, canonicalized assignment
  *    exprs, source schema) — `dml_coalescer.rs:11-13`;
  *  - same-key source rows from different statements cannot share one
  *    join pass (one matched target identity would get two conflicting
  *    new versions under a single stamp), so each group's union splits
  *    into ordered ROUNDS — round N holds every key's Nth occurrence in
  *    statement order (`dml_coalescer.rs:14-16`). Later rounds get later
  *    version stamps, so last-statement-wins survives the dedup window.
  *    Round count = max per-key multiplicity — 1 in the common case;
  *  - per-statement target clamps (time windows) widen to the group's OR
  *    (the union window of `dml_coalescer.rs:12-13`) and push below the
  *    dedup window, so the target scan prunes to the union of the
  *    statements' partitions instead of the full table. Any statement
  *    without a clamp un-clamps its whole group;
  *  - a group whose merge throws is PARKED, never dropped
  *    (`dml_coalescer.rs:28-33`): it stays queued with the error
  *    recorded, later drains retry it, `discardQuarantined()` is the
  *    explicit give-up. Shared contract: assignments must be idempotent
  *    under re-application, because a failed drain retries the whole
  *    group including rounds that already committed.
  *
  * Scale: the coalescer holds lazy plans and counters on the driver,
  * never rows; drain cost is one distributed join per (group, round).
  * The one driver-side action is a single `max(round)` scalar per group
  * (bounded metadata, same class as the marker listing).
  */
object DmlCoalescer {
  private final case class GroupKey(root: String, table: String,
      keys: Seq[String], assignShape: String, sourceSchema: String)
}

final class DmlCoalescer(autoDrainAfter: Int = 64,
    maxAgeMillis: Long = Long.MaxValue) {
  import DmlCoalescer.GroupKey

  private final class Group(
      val table: GraftTable,
      val keys: Seq[String],
      val assignments: Map[String, Column]) {
    val sources = mutable.ArrayBuffer[(Int, DataFrame)]()
    val clamps = mutable.ArrayBuffer[Option[Column]]()
    var lastError: Option[String] = None
  }

  private val groups = mutable.LinkedHashMap[GroupKey, Group]()
  private var seq = 0
  private var nStatements = 0
  private var oldestPendingAt = Long.MaxValue

  // Column.toString is the unresolved expression tree's text — identically
  // CONSTRUCTED assignments (the coalescing case: one code path emitting
  // many statements) always match; semantically-equal-but-differently-
  // written ones conservatively get their own group, which is only a
  // missed batching opportunity, never a wrong result.
  private def shapeOf(assignments: Map[String, Column]): String =
    assignments.toSeq.sortBy(_._1)
      .map { case (c, e) => s"$c=$e" }
      .mkString(";")

  /** Defer `UPDATE table SET assignments FROM source WHERE t.k = s.k`.
    * Assignments may reference both sides (`col("s.x")`, `col("t.x")`)
    * exactly as in [[GraftTable.updateFrom]]. */
  def enqueue(table: GraftTable, source: DataFrame, keys: Seq[String],
      assignments: Map[String, Column],
      targetClamp: Option[Column] = None): Unit = synchronized {
    val gk = GroupKey(table.root, table.meta.name, keys,
      shapeOf(assignments),
      source.schema.fields.map(f => s"${f.name}:${f.dataType.sql}")
        .mkString(","))
    val g = groups.getOrElseUpdate(gk,
      new Group(table, keys, assignments))
    g.sources += ((seq, source))
    g.clamps += targetClamp
    seq += 1
    nStatements += 1
    if (oldestPendingAt == Long.MaxValue) oldestPendingAt = System.nanoTime()
    // count trigger OR age trigger (the reference's d_dml_coalesce_secs
    // timer, checked at enqueue since there is no background thread here —
    // callers with idle gaps call drainIfDue() from their own loop)
    if (nStatements >= autoDrainAfter || ageExceeded) drain()
  }

  private def ageExceeded: Boolean =
    maxAgeMillis != Long.MaxValue && oldestPendingAt != Long.MaxValue &&
      (System.nanoTime() - oldestPendingAt) / 1000000L >= maxAgeMillis

  /** Drain iff the oldest pending statement has waited ≥ maxAgeMillis —
    * the scheduler-facing entry point for a periodic maintenance tick. */
  def drainIfDue(): (Int, Int) = synchronized {
    if (ageExceeded) drain() else (0, 0)
  }

  def pendingStatements: Int = synchronized(nStatements)

  /** Parked groups → last error. The key carries the full group identity
    * (root + assignment-shape digest) — two parked groups on the same
    * table name must not collapse into one visible entry. */
  def quarantined: Map[String, String] = synchronized {
    groups.collect { case (k, g) if g.lastError.isDefined =>
      s"${k.table}[${k.keys.mkString(",")}]" +
        s"@${Integer.toHexString((k.root, k.assignShape, k.sourceSchema).hashCode)}" ->
        g.lastError.get
    }.toMap
  }

  /** Drop parked groups (the reference instead spools them to a
    * quarantine dir — here the caller still owns the source frames and
    * can re-enqueue). Returns the number of groups discarded. */
  def discardQuarantined(): Int = synchronized {
    val parked = groups.filter(_._2.lastError.isDefined).keys.toSeq
    parked.foreach { k =>
      nStatements -= groups(k).sources.size
      groups.remove(k)
    }
    if (groups.isEmpty) oldestPendingAt = Long.MaxValue
    parked.size
  }

  /** Execute every pending group, first-enqueue order; one
    * `updateFrom` per (group, round). Returns
    * (groups merged, statements folded). Failed groups stay parked. */
  def drain(versionTime: Option[java.time.LocalDateTime] = None)
      : (Int, Int) = synchronized {
    val base = versionTime.getOrElse(
      java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
        .truncatedTo(java.time.temporal.ChronoUnit.MICROS))
    var stampIdx = 0
    var okGroups = 0
    var okStatements = 0
    for ((gk, g) <- groups.toSeq) {
      try {
        val keyCols = g.keys
        val unioned = g.sources
          .map { case (i, df) => df.withColumn("_coalesce_seq", lit(i)) }
          .reduce(_ unionByName _)
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col("_coalesce_seq"))
        // lazy: the first consumer is the full max aggregation below
        val rounds = Pin.lazily(unioned
          .withColumn("_coalesce_round", row_number().over(w)))
        try {
          // null max ⇒ every source in the group was empty: zero rounds,
          // the statement folds away as a no-op instead of NPEing
          val maxRow = rounds.agg(max(col("_coalesce_round"))).head()
          val nRounds = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
          val clamp =
            if (g.clamps.exists(_.isEmpty)) None
            else g.clamps.flatten.reduceOption(_ || _)
          val on = keyCols.map(k => col(s"t.$k") === col(s"s.$k"))
            .reduce(_ && _)
          for (r <- 1 to nRounds) {
            val src = rounds.filter(col("_coalesce_round") === r)
              .drop("_coalesce_seq", "_coalesce_round")
            // strictly increasing stamps across every (group, round) of
            // this drain — the dedup tiebreak must order later rounds
            // (and later groups touching the same identity) last-wins
            g.table.updateFrom(src, on, g.assignments,
              Some(base.plusNanos(1000L * stampIdx)), clamp)
            stampIdx += 1
          }
        } finally Pin.release(rounds)
        okGroups += 1
        okStatements += g.sources.size
        nStatements -= g.sources.size
        groups.remove(gk)
      } catch {
        case e: Throwable =>
          g.lastError = Some(s"${e.getClass.getName}: " +
            Option(e.getMessage).getOrElse(""))
      }
    }
    // parked groups stay pending (their age keeps the retry timer armed);
    // a fully-drained queue disarms it
    if (groups.isEmpty) oldestPendingAt = Long.MaxValue
    (okGroups, okStatements)
  }
}
