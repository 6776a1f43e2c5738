package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, collect_set, to_date}

import graft.operators.Pin

/** In-session write buffer over a [[GraftTable]] — the Spark rendering of
  * the reference's MemBuffer tier (S4/W2,
  * `/root/reference/src/buffered_write_layer.rs:1120` `insert`,
  * `src/mem_buffer.rs:255-470`): INSERTed rows are readable IMMEDIATELY,
  * before any parquet version commits, and [[flush]] moves every buffered
  * batch to storage as one committed version with its insert-time stamps
  * preserved — so the resolved view is IDENTICAL before and after a flush
  * (read-your-writes with no double counting, the same invariant the
  * reference's mem∪storage union maintains with its watermark routing).
  *
  * Durability (W1, reference `src/wal.rs:142-462` + `recover_from_wal`
  * at `buffered_write_layer.rs:1256`): with `durable = true` each insert
  * TEES its conformed batch to a `_wal/` parquet directory before
  * returning — the batch is durable from the moment insert returns, like
  * the reference's fsync'd WAL record. A new layer over the same table
  * REPLAYS committed WAL batches into its buffer (crash recovery), and
  * [[flush]] truncates the WAL only after the version commits. The
  * commit marker is parquet's own `_SUCCESS` file, so a batch whose spill
  * died mid-write is discarded at recovery — the analogue of losing the
  * un-fsynced WAL tail, except the un-committed INSERT also never
  * returned to its caller. A crash BETWEEN the flush's version commit and
  * the WAL truncate re-adopts already-committed rows; the re-flush is
  * harmless because replayed rows carry their original stamps and the
  * merge-on-read dedup window collapses identical (identity, stamp)
  * versions — the same at-least-once + dedup convergence the streaming
  * checkpoint recovery relies on. With `durable = false` (default) the
  * r1–r6 behavior is unchanged: durability starts at flush, a crashed
  * session loses its unflushed buffer.
  *
  * Single-owner contract: one live durable layer per table directory,
  * ENFORCED (the reference's WAL flock, `src/wal.rs:222`): construction
  * registers the layer as the table's WAL owner and fails LOUDLY if a
  * live owner already holds it — double-adoption is an error, not a
  * silent data duplication. Enforcement is two-layer: the in-process
  * owner registry (driver-side serialization point), and — on LOCAL
  * filesystems, where the reference's WAL also lives — a real OS
  * advisory lock (`FileChannel.tryLock`) on `_wal/_lock`, which a
  * second JVM cannot acquire and which the OS releases automatically
  * when the holder dies, exactly flock's semantics: a crashed
  * predecessor's committed batches are adopted without operator action.
  * On non-local stores (no flock exists on an object store) the `_lock`
  * marker is created WITHOUT overwrite; a leftover marker — live owner
  * elsewhere or crashed predecessor, indistinguishable without a lease —
  * fails the open loudly, and takeover is operator-mediated via
  * [[BufferedWriteLayer.breakLock]]. [[close]] flushes and releases
  * ownership, letting a successor open cleanly in-session.
  *
  * Mechanics: each batch is conformed (stamped, date-derived,
  * schema-projected) at insert time, coalesced to as many partitions as
  * its planned size fills file splits (`spark.sql.files.maxPartitionBytes`
  * — one for any batch that fits a split, so one WAL file and one pinned
  * partition), and pinned as compressed column buffers
  * ([[graft.operators.Pin.columns]]). The pin job itself yields the
  * batch's row count (and [[updateFrom]]'s row pin of the DML batch its
  * touched dates, through an `Observation`), so a durable insert runs two
  * Spark jobs (WAL write, pin) and a non-durable one a single job. In
  * durable mode the pin reads back the just-written WAL parquet (a
  * bounded local scan), NOT the caller's plan, and the pinned blocks
  * rather than the WAL files back every handed-out frame: a reader that
  * obtained the resolved view BEFORE a flush keeps working after flush
  * truncates the WAL. A pinned batch keeps neither the plan nor the rows
  * it was built from and never recomputes, so buffered rows are immutable
  * from the moment they become visible. Flush does not release a batch,
  * which would pull its blocks from under those frames: `ContextCleaner`
  * frees them once no frame references the batch.
  * Buffered batches resolve against storage through the same
  * keep-greatest dedup window as committed versions — a buffered update
  * of a stored identity wins by stamp, exactly as if it had been
  * committed.
  *
  * Scale: the buffer holds its rows as pinned column buffers in executor
  * block storage (and WAL parquet on table storage), never in driver
  * collections. Each column is compressed on its own, a null costs a
  * 4-byte position rather than an 8-byte slot, and a read decodes only
  * the columns it asks for: a 512-row `otel_logs_and_spans` batch pins
  * in ~62 KB (~121 B/row), and every probe, read, enrichment and flush
  * reads that block. Each batch also keeps its relation, a fixed cost
  * per batch that `graft.Autotune` charges with the block. `maxBufferedRows`
  * bounds the buffer with an auto-flush, playing the reference's
  * buffer-pressure flush trigger (`flush_interval_secs` / pressure
  * sawtooth, BASELINE.md).
  */
final class BufferedWriteLayer(val table: GraftTable,
    // default derived from host heap (explicit-override-wins via
    // SPARK_GRAFT_BUFFER_MAX_ROWS) — see graft.Autotune
    val maxBufferedRows: Long = graft.Autotune.defaultMaxBufferedRows(),
    val durable: Boolean = false) {

  // (pinned conformed batch, its WAL dir when durable, dates touched by
  // DML in the batch). DML dates travel WITH their batch entry — a
  // separate pending-dates set opened a race where a concurrent flush
  // drained the dates against a commit that did not yet contain the DML
  // batch (dropping them entirely when it had nothing else to write), so
  // the flushed DML batch then missed priority compaction.
  private var batches: List[(DataFrame, Option[String], Set[String])] = Nil
  private var buffered: Long = 0L

  private def walRoot = s"${table.root}/${table.meta.name}/_wal"

  private def fs = new Path(walRoot)
    .getFileSystem(table.spark.sparkContext.hadoopConfiguration)

  private val ownerId = java.util.UUID.randomUUID.toString
  @volatile private var closed = false
  // OS advisory lock on _wal/_lock (local FS only) — null on object stores
  private var lockChannel: java.nio.channels.FileChannel = null
  // object-store path only: did THIS open create the _lock marker? A
  // constructor that creates the marker and then fails during WAL replay
  // must remove its own marker before rethrowing — otherwise every
  // subsequent open fails loudly until a manual breakLock even though no
  // owner exists.
  private var createdMarker = false

  // ---- single-owner lock + crash recovery ------------------------------
  // Ownership is acquired BEFORE replay: a second live durable layer must
  // fail fast instead of double-adopting the same committed batches.
  if (durable) {
    val prior = BufferedWriteLayer.owners.putIfAbsent(lockKey, ownerId)
    if (prior.isDefined) throw new IllegalStateException(
      s"${table.meta.name}: WAL at $walRoot is already owned by a live " +
        s"durable BufferedWriteLayer (owner ${prior.get}); close() it " +
        "before opening another — concurrent durable layers over one " +
        "table would double-adopt the WAL")
    val root = new Path(walRoot)
    try {
      fs.mkdirs(root)
      val lockPath = new Path(root, "_lock")
      if (BufferedWriteLayer.isLocalFs(fs)) {
        // real flock semantics: cross-process exclusion, auto-released by
        // the OS on process death — a crashed predecessor never wedges a
        // successor, a LIVE other-JVM owner fails this open loudly
        import java.nio.file.StandardOpenOption._
        val local = java.nio.file.Paths.get(lockPath.toUri.getPath)
        lockChannel = java.nio.channels.FileChannel.open(local, CREATE, WRITE)
        val lock =
          try lockChannel.tryLock()
          catch { case _: java.nio.channels.OverlappingFileLockException => null }
        if (lock == null) {
          lockChannel.close(); lockChannel = null
          throw new IllegalStateException(
            s"${table.meta.name}: WAL at $walRoot is flock-held by another " +
              "live process; close() that layer before opening another")
        }
        lockChannel.truncate(0)
        lockChannel.write(java.nio.ByteBuffer.wrap(ownerId.getBytes("UTF-8")))
        lockChannel.force(true)
      } else {
        // object store: no flock exists — create WITHOUT overwrite as a
        // best-effort guard. NOTE this is weaker than it looks: Hadoop's
        // create(path, overwrite=false) is HEAD-then-PUT on S3-style
        // stores (non-atomic), so two concurrent openers racing the same
        // instant can BOTH succeed; true cross-JVM exclusion there needs a
        // conditional-put (If-None-Match) or an external lease. The marker
        // still catches the common cases — a live layer opened earlier or
        // a crashed predecessor — loudly; takeover is explicit via
        // breakLock.
        val existing =
          try {
            val out = fs.create(lockPath, false)
            out.write(ownerId.getBytes("UTF-8")); out.close()
            createdMarker = true; None
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.io.IOException if fs.exists(lockPath) =>
              val in = fs.open(lockPath)
              val held = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                finally in.close()
              Some(held)
          }
        existing.foreach { held =>
          throw new IllegalStateException(
            s"${table.meta.name}: WAL at $walRoot carries a _lock held by " +
              s"owner $held — either a live layer in another process or a " +
              "crashed predecessor; verify the holder is dead, then " +
              "BufferedWriteLayer.breakLock(table) to take over")
        }
      }
      fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
        .sortBy(_.getName).foreach { d =>
          if (fs.exists(new Path(d, "_SUCCESS"))) {
            // pin the rows (not the files): flush truncates the WAL
            // while frames served from this batch may still be alive
            val (df, n) =
              Pin.columns(table.spark.read.parquet(d.toString))
            if (n > 0) {
              // restore the batch's DML-touched dates from its sidecar —
              // written BEFORE the batch itself, so a committed DML batch
              // can never be re-adopted without the dates that route it
              // to priority compaction at flush
              batches ::= ((df, Some(d.toString), readDmlSidecar(d)))
              buffered += n
            }
            else deleteWalBatch(d.toString)
          } else deleteWalBatch(d.toString) // mid-write crash: un-fsynced tail
        }
      // a crash between sidecar and batch write leaves an orphan sidecar
      // with no batch directory — drop it (its batch never committed)
      fs.listStatus(root).filter(!_.isDirectory).map(_.getPath)
        .filter(_.getName.endsWith(BufferedWriteLayer.DmlDatesSuffix))
        .foreach { s =>
          val batchDir = new Path(root, s.getName
            .stripSuffix(BufferedWriteLayer.DmlDatesSuffix))
          if (!fs.exists(batchDir)) fs.delete(s, false)
        }
    } catch {
      case t: Throwable =>
        BufferedWriteLayer.owners.remove(lockKey, ownerId)
        if (lockChannel != null) { lockChannel.close(); lockChannel = null }
        // only the marker THIS open created — never a foreign holder's
        if (createdMarker) {
          try fs.delete(new Path(walRoot, "_lock"), false)
          catch { case _: java.io.IOException => () } // best effort; breakLock remains
        }
        throw t
    }
    // a predecessor that crashed at (or above) the cap must not leave the
    // reconstructed buffer silently over-limit until the next insert:
    // recovery honors the same auto-flush trigger insert does
    if (buffered >= maxBufferedRows) flush()
  }

  private def lockKey: String = fs.makeQualified(new Path(walRoot)).toString

  /** Flush and release WAL ownership; the layer must not be used after.
    * A successor durable layer over the same table can then open
    * in-session without tripping the double-open guard. */
  def close(): Unit = {
    if (durable && !closed) {
      flush()
      if (lockChannel != null) {
        // local FS: release the flock but DO NOT unlink the lock file.
        // Unlinking opens a double-adoption window: a successor can lock
        // the old (now-unlinked) inode while another process creates and
        // locks a fresh _lock at the same path — two simultaneous
        // "holders", the exact race the lock exists to prevent. flock
        // semantics never require unlink; successors lock the same file.
        lockChannel.close(); lockChannel = null
      } else {
        // object store: the marker IS the lock — remove it so a successor
        // can open without a manual breakLock
        fs.delete(new Path(walRoot, "_lock"), false)
      }
      BufferedWriteLayer.owners.remove(lockKey, ownerId)
    }
    closed = true
  }

  /** Drop in-process ownership WITHOUT flushing or touching the WAL —
    * models a process crash (where the flock-like liveness vanishes but
    * the on-disk WAL and `_lock` marker remain) so recovery paths can be
    * exercised in one JVM. Never call this on a layer still serving
    * traffic. */
  private[graft] def simulateCrash(): Unit = {
    if (durable) {
      BufferedWriteLayer.owners.remove(lockKey, ownerId)
      // the OS releases a dead process's FileLock; closing the channel
      // (NOT deleting the marker) models exactly that
      if (lockChannel != null) { lockChannel.close(); lockChannel = null }
    }
    closed = true
  }

  /** Rows visible to [[readResolved]] but not yet committed to storage. */
  def bufferedRows: Long = synchronized(buffered)

  /** Buffer a batch; it is readable immediately (and, when durable,
    * crash-safe from return). `versionTime` is the batch's dedup stamp
    * (defaults to now, like an interactive INSERT). */
  def insert(df: DataFrame,
      versionTime: Option[java.time.LocalDateTime] = None): Unit =
    insertWithDmlDates(df, versionTime, Set.empty)

  /** [[insert]] carrying the batch's DML-touched dates: the dates are
    * enqueued in the SAME synchronized block as the batch itself, so any
    * flush drains them together with (never ahead of) the batch. */
  private def insertWithDmlDates(df: DataFrame,
      versionTime: Option[java.time.LocalDateTime],
      dmlDates: Set[String]): Unit = {
    val t = versionTime.getOrElse(java.time.LocalDateTime
      .now(java.time.ZoneOffset.UTC)
      .truncatedTo(java.time.temporal.ChronoUnit.MICROS))
    val conformed = BufferedWriteLayer.toSplits(table.conformNow(df, t))
    val ((pinned, rows), walDir) =
      if (durable) {
        val micros =
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
        val dir = f"$walRoot/$micros%020d-${
          java.util.UUID.randomUUID.toString.take(8)}"
        // DML-touched dates persist in a sidecar written BEFORE the batch
        // (ADVICE r12): recovery restores durable DML batches WITH their
        // dates, so a crash cannot strand a flushed enrichment outside
        // the dirty-bin queue. Sidecar-then-batch ordering means the only
        // crash residue is an orphan sidecar, swept at adoption.
        if (dmlDates.nonEmpty) {
          val out = fs.create(
            new Path(dir + BufferedWriteLayer.DmlDatesSuffix), true)
          try {
            out.write(dmlDates.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
            // process ordering is not storage-durability ordering (ADVICE
            // r13): a _SUCCESS-committed batch must IMPLY a durable
            // sidecar (plain inserts legitimately have none, so a lost
            // sidecar is undetectable at recovery) — force the bytes down
            // before the batch write starts. hsync where the FS supports
            // it; hflush is the floor everywhere else.
            out.hflush()
            try out.hsync()
            catch { case _: UnsupportedOperationException => () }
          } finally out.close()
        }
        conformed.write.parquet(dir) // _SUCCESS commits the record
        // pin the READ-BACK (bounded local scan), so the buffered frame
        // outlives the WAL truncation at flush
        (Pin.columns(
          table.spark.read.schema(conformed.schema).parquet(dir)), Some(dir))
      } else (Pin.columns(conformed), None)
    val doFlush = synchronized {
      batches ::= ((pinned, walDir, dmlDates))
      buffered += rows
      buffered >= maxBufferedRows
    }
    if (doFlush) flush()
  }

  /** `UPDATE … FROM source` through the buffer — the reference's
    * hash-enrichment flow (`tests/e2e/hash_enrichment.rs`): a span is
    * INSERTed with empty `hashes` and enriched moments later, while the
    * row may still sit in the MemBuffer. The new versions are computed
    * against the mem∪storage resolved view (so buffered rows are
    * matched, which `table.updateFrom` alone would silently miss) and
    * land back in the BUFFER with a fresh stamp: read-your-writes holds
    * — the enriched version is visible immediately and supersedes the
    * buffered original through the same keep-greatest window as
    * committed versions, before or after any flush. */
  def updateFrom(source: DataFrame, on: Column,
      assignments: Map[String, Column],
      versionTime: Option[java.time.LocalDateTime] = None): Unit = {
    // materialize the batch BEFORE inserting: the batch reads the
    // resolved view, and insert would otherwise re-evaluate that plan
    // after the buffer already contains the new versions themselves.
    //
    // Buffered DML must reach the dirty-bin queue like the direct
    // GraftTable DML paths do — otherwise enrichment through the buffer
    // silently misses priority compaction after flush. The batch's own
    // touched dates are observed on its pin job and enqueued ATOMICALLY
    // with the batch entry inside insert's synchronized block: a
    // concurrent flush either commits the batch with its dates or sees
    // neither, never the dates alone.
    val dates = new Observation()
    val batch = Pin(table.updateFromBatch(readResolved(), source, on, assignments)
      .observe(dates, collect_set(
        to_date(col(table.meta.timeColumn)).cast("string")).as("dates")))
    val touched = dates.get("dates").asInstanceOf[Iterable[String]].toSet
    // the insert pins its own copy; nothing reads the row pin after it
    try insertWithDmlDates(batch, versionTime, touched)
    finally Pin.release(batch)
  }

  /** The table's resolved view INCLUDING buffered rows. */
  def readResolved(): DataFrame = synchronized {
    batches.map(_._1) match {
      case Nil => table.readResolved()
      case bs => table.readResolvedWithConformed(
        bs.reduce(_.unionByName(_, allowMissingColumns = true)))
    }
  }

  /** Commit every buffered batch as one table version (stamps preserved,
    * so the resolved view does not change), empty the buffer, and
    * truncate the WAL — AFTER the commit, so a crash in between re-adopts
    * (idempotently) rather than loses. */
  def flush(): Unit = {
    val toWrite = synchronized {
      val bs = batches
      batches = Nil
      buffered = 0L
      bs
    }
    if (toWrite.nonEmpty) {
      // allowMissingColumns: batches buffered across a schema evolution
      // differ in width; missing columns null-fill, like the files would
      table.appendConformed(
        toWrite.map(_._1).reduce(_.unionByName(_, allowMissingColumns = true)))
      // the flushed commit now carries the buffered DML versions: enqueue
      // exactly the dates of the batches THIS flush committed
      table.markDmlDirtyDates(toWrite.iterator.flatMap(_._3).toSet)
      toWrite.flatMap(_._2).foreach(deleteWalBatch)
    }
  }

  /** Drop a WAL batch directory together with its DML-dates sidecar. */
  private def deleteWalBatch(dir: String): Unit = {
    fs.delete(new Path(dir), true)
    fs.delete(new Path(dir + BufferedWriteLayer.DmlDatesSuffix), false)
  }

  private def readDmlSidecar(d: Path): Set[String] = {
    val sidecar = new Path(d.toString + BufferedWriteLayer.DmlDatesSuffix)
    if (!fs.exists(sidecar)) Set.empty
    else {
      val in = fs.open(sidecar)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toSet
      finally in.close()
    }
  }
}

object BufferedWriteLayer {
  /** `df` in as many partitions as its planned size fills file splits
    * (`spark.sql.files.maxPartitionBytes`). `coalesce` never adds
    * partitions, so a batch of unknown or large size keeps its own. */
  private def toSplits(df: DataFrame): DataFrame = {
    val planned = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    df.coalesce(((planned + split - 1) / split).max(1).min(Int.MaxValue).toInt)
  }

  /** Live durable-layer owners by qualified WAL path — the in-process
    * fast path of the single-owner lock. Cross-process enforcement is the
    * OS FileLock on local filesystems and the no-overwrite `_lock` marker
    * (+ [[breakLock]]) on object stores; in a single-driver Spark app the
    * driver IS the serialization point. */
  private[sources] val owners =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Suffix of the per-batch DML-touched-dates sidecar file, a sibling
    * of the batch directory under the WAL root. */
  private[sources] val DmlDatesSuffix = "._dml_dates"

  private[sources] def isLocalFs(fs: org.apache.hadoop.fs.FileSystem): Boolean = {
    val s = fs.getUri.getScheme
    s == null || s == "file"
  }

  /** Operator-mediated takeover on NON-flock stores: remove a `_lock`
    * marker left by a holder verified dead. Refuses while a live layer in
    * THIS process owns the WAL — breaking a live lock is the
    * double-adoption bug the lock exists to prevent. */
  def breakLock(table: GraftTable): Unit = {
    val walRoot = new Path(s"${table.root}/${table.meta.name}/_wal")
    val fs = walRoot.getFileSystem(table.spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(walRoot).toString
    require(!owners.contains(key),
      s"${table.meta.name}: a live durable layer in this process owns the " +
        "WAL — close() it instead of breaking its lock")
    fs.delete(new Path(walRoot, "_lock"), false)
  }
}
