package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.schema.TableSchema

/** Merge-on-read table over partitioned parquet with a commit-marker log —
  * the Spark-native rendering of the reference's write/flush/read pipeline
  * (SURVEY.md §2.1 S1/S6, §2.9 X1/X2, §2.10 W3/W6) and, since no Delta jar
  * exists in this environment, an emulation of its commit-log visibility
  * semantics (`/root/reference/src/database.rs` flush/commit path):
  *
  *  - every write lands in a fresh `vNNNNN/` data directory and becomes
  *    visible only when its zero-byte marker under `_commits/` is created —
  *    marker creation is a single atomic filesystem operation, so readers
  *    can never observe a half-written data directory;
  *  - **append** stamps the version column, derives the `date` partition
  *    from the event-time column, conforms to the declared schema, sorts
  *    within partitions by the declared sort keys (files advertise the
  *    order; parquet min/max stats become tight so time-range scans prune),
  *    and writes `partitionBy(project_id, date)`;
  *  - **readRaw** unions the latest compaction base with every append
  *    committed after the base's cut-off — concurrent appends during a
  *    compaction are never lost and never double-counted;
  *  - **readResolved** is the read-side dedup view: one `row_number` window
  *    over the dedup keys ordered by tiebreak DESC NULLS LAST, then the
  *    tombstone filter — exactly DedupExec's keep-greatest semantics
  *    (`/root/reference/src/read_dedup.rs`), expressed so Catalyst handles
  *    filter placement (predicates on version-mutable columns stay above
  *    the window; partition/time predicates push through to the scan);
  *  - **update/delete/updateFrom/merge** are version-append DML (reference
  *    `src/dml.rs` X2): they append new row versions / tombstones with a
  *    fresh tiebreak instead of rewriting files — O(changed rows), not
  *    O(table);
  *  - **compact** (the background dedup sweep, reference `dedup_partition`,
  *    `src/database.rs:6737`) writes the resolved view to a new base
  *    version whose marker records the cut-off it subsumes; the swap is the
  *    marker creation, so a racing reader sees either the old file set or
  *    the new one, never neither/both. Old versions stay on disk until
  *    **vacuum** removes them (reference VACUUM, S10), so in-flight readers
  *    on the previous snapshot finish cleanly.
  *
  * Concurrency contract (same as the reference's single-writer flock,
  * `src/wal.rs`): writes (append/DML/compact) are serialized by the caller;
  * readers are fully concurrent with everything.
  *
  * Scale notes: every operation is partition-parallel; nothing collects to
  * the driver except the marker listing (one RPC per read). The dedup
  * window shuffles by dedupKeys only when a scan spans file boundaries with
  * the same key — at 100 TB the (project_id, date) partitioning bounds each
  * window partition to one tenant-day.
  */
object GraftTable {
  /** Physical-only shadow column carrying the lead sort key as pushable
    * int64 micros (see `rgShadowExpr`); never part of a read schema. */
  val RgKeyColumn = "__rg_key"

  /** Adaptive bloom candidates per column: 1 MB halved down to 1 KB. A
    * 512 B candidate would be dropped by parquet anyway, since its 1 %
    * FPP capacity rounds down to zero in parquet's 500-value steps. */
  val BloomCandidates = 11

  /** Free a `localCheckpoint`ed frame's executor blocks eagerly. The
    * blocks belong to the RDD the checkpoint wrapped (LogicalRDD in the
    * analyzed plan); without this they survive until the driver GCs the
    * frame and the ContextCleaner drains — an executor-memory leak when
    * the frame was a discarded probe. The frame is unusable after. */
  private[graft] def dropCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Cached scan plans per (session, table): a bounded LRU of
    * (fingerprint → plan) entries — the current snapshot's legs and the
    * leg unions the resolved view composes of them. */
  private val snapshotCache =
    scala.collection.concurrent.TrieMap[(Int, String), List[(String, org.apache.spark.sql.DataFrame)]]()

  /** Schema effective at a committed version, memoized — see
    * [[GraftTable.dirsSchema]] for the immutability argument. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap[(String, Int), org.apache.spark.sql.types.StructType]()

  /** Stale-lock threshold: a held lock is heartbeaten at TTL/6, so only a
    * crashed writer's lock ever crosses it. */
  val LockTtlMs = 60000L
  /** How long a writer waits for the lock before giving up. */
  val LockWaitMs = 120000L

  /** Create `p` empty, exclusively and ATOMICALLY: exactly one of any
    * number of concurrent callers returns true. Hadoop's local filesystem
    * implements `create(path, overwrite = false)` as exists-then-create —
    * two racing writers can BOTH succeed (observed: both claimed the same
    * table lock and wrote the same version directory) — so local paths go
    * through `O_CREAT|O_EXCL` via java.nio; HDFS and object stores with
    * conditional put keep their natively-atomic create. Everything that
    * claims "atomic create IS the commit" routes through here. */
  private[graft] def createExclusive(fs: FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    val scheme = Option(p.toUri.getScheme).getOrElse(fs.getScheme)
    if (scheme == "file") {
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }
  }
}

class GraftTable(
    val spark: SparkSession,
    val root: String,
    val meta: TableSchema,
    /** Maintain the incremental logical-count chain (A6, reference
      * `src/logical_count_index.rs`): every write also records the exact
      * resolved row count, so `COUNT(*)` on an UNcompacted snapshot is a
      * directory listing instead of a full dedup-window scan. Costs one
      * bounded key-column join per append (against the touched date
      * partitions only), so it is opt-in like the reference's index. */
    val maintainCountIndex: Boolean = false) {

  private val path = s"$root/${meta.name}"
  private val commitsDir = s"$path/_commits"

  // ts→date partition-bound derivation for this table's scans (reference
  // optimizers/mod.rs:90-167), in every session built with GraftExtensions
  graft.plans.TimeToDatePruning.register(path, meta.timeColumn)

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------ admission gate --

  // X3 serving integration: the reference gates INSIDE every routing-table
  // scan (`/root/reference/src/database.rs:12314-12403`); here the serving
  // entry points ([[recentPage]], [[textSearch]]) route their scan ACTIONS
  // through the attached gate. Optional — tables used as plain DataFrame
  // sources (the query library) stay lazy and ungated.
  @volatile private var gateOpt: Option[ScanGate] = None

  /** Attach admission control to this table's serving entry points. */
  def attachGate(g: ScanGate): Unit = { gateOpt = Some(g) }

  def attachedGate: Option[ScanGate] = gateOpt

  /** Run `body` under the attached gate (classified by `lookback`), or
    * bare when no gate is attached. */
  private def gatedAction[T](lookback: Option[Long])(body: => T): T =
    gateOpt match {
      case Some(g) => g.gated(this, lookback)(body)
      case None => body
    }

  // ------------------------------------------------------------ commits --

  /** One committed version: `baseOf = Some(k)` marks a FULL compaction
    * base subsuming every version ≤ k; `pbase = true` marks a PARTIAL
    * (date-range) compaction base that, for dates inside its `dates`
    * range, subsumes every earlier version — incremental maintenance, so
    * compaction cost follows the fragmented dates, never the table size.
    * `dates` is the version's event-date range (for appends: the
    * Delta-checkpoint-stats role — [[recentPage]] and the date-bounded
    * window derive date sets from markers alone; for partial bases: the
    * subsumption scope). Every write records the range of the `date=`
    * directories it created; a range-less marker is an empty write, or
    * rows whose dates it cannot name ([[Snapshot.live]] tells which).
    * Encoded entirely in the marker NAME (`_v00007`,
    * `_v00007.base.00005`, `_v00009.pb.dr.2024-03-01.2024-03-10`,
    * `_v00007.dr.2024-03-01.2024-03-10`) so listing needs no file reads. */
  private case class Commit(v: Int, baseOf: Option[Int],
      dates: Option[DateRange], pbase: Boolean = false)

  private type DateRange = (java.time.LocalDate, java.time.LocalDate)

  private def commits(): Seq[Commit] = {
    val dir = new Path(commitsDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(_.startsWith("_v"))
      .map { n =>
        val (core0, dates) = n.drop(2).split("\\.dr\\.") match {
          case Array(c) => (c, None)
          case Array(c, dr) => dr.split("\\.") match {
            case Array(lo, hi) => (c, Some((java.time.LocalDate.parse(lo),
              java.time.LocalDate.parse(hi))))
            case _ => (c, None)
          }
        }
        val (core, pbase) =
          if (core0.endsWith(".pb")) (core0.stripSuffix(".pb"), true)
          else (core0, false)
        core.split("\\.base\\.") match {
          case Array(v) => Commit(v.toInt, None, dates, pbase)
          case Array(v, b) => Commit(v.toInt, Some(b.toInt), dates, pbase)
        }
      }
      .sortBy(_.v)
  }

  private def markerName(v: Int, baseOf: Option[Int],
      dates: Option[DateRange], pbase: Boolean = false): String = {
    val core = baseOf match {
      case None => f"_v$v%05d"
      case Some(b) => f"_v$v%05d.base.$b%05d"
    }
    val tagged = if (pbase) s"$core.pb" else core
    dates match {
      case None => tagged
      case Some((lo, hi)) => s"$tagged.dr.$lo.$hi"
    }
  }

  private def commit(v: Int, baseOf: Option[Int] = None,
      dates: Option[DateRange] = None, pbase: Boolean = false): Unit = {
    fs.mkdirs(new Path(commitsDir))
    // atomic create (fails if present) IS the commit
    val marker = new Path(commitsDir, markerName(v, baseOf, dates, pbase))
    if (!GraftTable.createExclusive(fs, marker))
      throw new IllegalStateException(
        s"${meta.name}: version $v already committed by another writer")
  }

  /** Event-date range of one just-written version directory — a
    * driver-side listing (two levels deep, no file reads) bounded by the
    * BATCH's partitions (tenants × touched days), done once at write time
    * so readers never need it. None when the write created no `date=`
    * directory. */
  private def writtenDateRange(dir: String): Option[DateRange] = {
    val p = new Path(dir)
    val ds = if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isDirectory).toSeq.flatMap(proj =>
        fs.listStatus(proj.getPath).map(_.getPath.getName).toSeq
          .filter(_.startsWith("date=")).map(_.stripPrefix("date=")))
    if (ds.isEmpty) None
    else Some((java.time.LocalDate.parse(ds.min),
      java.time.LocalDate.parse(ds.max)))
  }

  private def versionDir(v: Int): String = f"$path/v$v%05d"

  // ------------------------------------------------------ schema log --

  private def schemaDir = s"$path/_schema"

  /** Schema evolution log (Delta `mergeSchema` semantics): `_schema/
    * vNNNNN.json` records the WIDENED schema first written at version N;
    * absent any file the declared [[meta]] schema applies. Readers resolve
    * the schema effective at a version with [[schemaAt]], so time-travel
    * reads see the snapshot's own schema (Delta's contract) and current
    * reads see every evolved column, null-filled over pre-evolution files
    * by parquet's read-by-name semantics. Files are tiny and never
    * vacuumed. A file written for a version whose commit then failed is
    * ignored by every reader (readers bound by committed versions) and
    * overwritten by the version number's next user. */
  private def schemaAt(v: Int): StructType = {
    val dir = new Path(schemaDir)
    if (!fs.exists(dir)) return meta.schema
    val vs = fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toInt)
      .filter(_ <= v)
    if (vs.isEmpty) meta.schema
    else {
      val in = fs.open(new Path(schemaDir, f"v${vs.max}%05d.json"))
      val bytes = try in.readAllBytes() finally in.close()
      DataType.fromJson(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[StructType]
    }
  }

  private def liveSchema(): StructType = schemaAt(Int.MaxValue)

  private def writeSchemaFile(v: Int, s: StructType): Unit = {
    fs.mkdirs(new Path(schemaDir))
    val out = fs.create(new Path(schemaDir, f"v$v%05d.json"), true)
    try out.write(s.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Highest committed version; 0 when the table is empty. */
  def currentVersion(): Int = commits().lastOption.map(_.v).getOrElse(0)

  /** Commits visible to a reader: the newest compaction base plus every
    * append committed after that base's cut-off. */
  private def visibleCommits(cs: Seq[Commit]): Seq[Commit] =
    cs.filter(_.baseOf.isDefined).lastOption match {
      case None => cs
      case Some(base) =>
        base +: cs.filter(c => c.baseOf.isEmpty && c.v > base.baseOf.get)
    }

  private def visibleDirs(cs: Seq[Commit]): Seq[String] =
    visibleCommits(cs).map(c => versionDir(c.v))

  /** The visible snapshot of a commit list with its partial-base
    * coverage, computed once: for each leg, the date ranges a NEWER
    * partial base subsumes. A date inside one is served by the newest
    * covering base, never by this leg — the one rule the resolved view
    * ([[resolvedFrom]]), the scan gate's work estimate
    * ([[selectedFileWork]]) and maintenance ([[maintenanceSweep]]) share. */
  private class Snapshot(cs: Seq[Commit]) {
    val vis: Seq[Commit] = visibleCommits(cs)
    private val coverage: Map[Int, Seq[DateRange]] = {
      val pbases = vis.filter(_.pbase)
      vis.map(c => c.v -> pbases.filter(_.v > c.v).flatMap(_.dates)).toMap
    }
    def covered(c: Commit): Seq[DateRange] = coverage(c.v)
    def isCovered(c: Commit, d: java.time.LocalDate): Boolean =
      covered(c).exists { case (lo, hi) => !d.isBefore(lo) && !d.isAfter(hi) }
    /** Dates leg `c` recorded that no newer partial base covers. */
    def liveDates(c: Commit): Iterator[String] =
      c.dates.iterator.flatMap(expandDates)
        .filterNot(ds => isCovered(c, java.time.LocalDate.parse(ds)))
    /** Legs that still serve a date. A leg with a recorded range serves
      * the dates no newer partial base covers. A range-less leg is
      * decided by its directory: an empty write (a delete matching
      * nothing) holds no rows and is skipped, while rows whose dates the
      * marker does not name (a layout without `date=` directories, or a
      * marker written before range recording) keep the leg, on every
      * date. */
    val live: Seq[Commit] = vis.filter(c =>
      if (c.dates.isEmpty) holdsData(c.v) else liveDates(c).hasNext)
    /** Every date the snapshot serves, newest first, from marker ranges
      * alone (a range may include absent dates, which scan zero files);
      * None when a live leg's dates are unknown. */
    def dates: Option[Seq[String]] =
      if (live.exists(_.dates.isEmpty)) None
      else Some(live.flatMap(liveDates).distinct.sorted.reverse)
  }

  /** Whether a committed version directory holds data: a write that
    * matched no rows creates no partition directory and no data file. */
  private def holdsData(v: Int): Boolean = {
    val p = new Path(versionDir(v))
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory || st.getPath.getName.endsWith(".parquet"))
  }

  /** Tenant scope of a maintenance read on a guarded root: `project_id
    * IN (every project_id= directory in dirs)` keeps every row and passes
    * the guard like a user's tenant filter, so the guard needs no bypass.
    * None on an unguarded root, whose plans stay unchanged. */
  private def allTenants(dirs: Seq[String]): Option[Column] =
    if (!graft.plans.GuardedTables.isGuarded(Seq(path))) None
    else {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val tenants = dirs.map(new Path(_)).filter(fs.exists).flatMap(p =>
        fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith("project_id="))
          .map(n => ExternalCatalogUtils.unescapePathName(n.stripPrefix("project_id="))))
        .distinct
      val (nulls, named) =
        tenants.partition(_ == ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      val in = col("project_id").isin(named: _*)
      Some(if (nulls.isEmpty) in else in || col("project_id").isNull)
    }

  /** Post-pruning work a scan bounded below by `since` would actually
    * select: (parquet file count, total bytes) under `date=` partitions
    * ≥ `since` across every visible version leg. Pure driver-side
    * metadata (the same directory listings plan building performs), used
    * by [[ScanGate]]'s depth-proxy refinement — the reference computes
    * the identical measure from the pruned `FileScanConfig`
    * (`selected_file_work`, `src/database.rs:11911-11916`). */
  private[sources] def selectedFileWork(
      since: java.time.LocalDate): (Long, Long) = {
    var files = 0L; var bytes = 0L
    // a date covered by a NEWER partial base is never read from this leg,
    // so its files are not work this scan selects — counting them would
    // over-gate a pruned-small deep scan on a partially-compacted table
    val snap = new Snapshot(commits())
    snap.live.foreach { c =>
      val p = new Path(versionDir(c.v))
      if (fs.exists(p)) fs.listStatus(p).filter(_.isDirectory).foreach { proj =>
        fs.listStatus(proj.getPath).filter(_.isDirectory).foreach { dp =>
          val n = dp.getPath.getName
          if (n.startsWith("date=")) {
            val d = java.time.LocalDate.parse(n.stripPrefix("date="))
            if (!d.isBefore(since) && !snap.isCovered(c, d))
              fs.listStatus(dp.getPath).filter(_.isFile).foreach { f =>
                if (f.getPath.getName.endsWith(".parquet")) {
                  files += 1; bytes += f.getLen
                }
              }
          }
        }
      }
    }
    (files, bytes)
  }

  // --------------------------------------------------------- write lock --

  private def lockPath = new Path(s"$path/_lock")

  /** Single-writer exclusion (the reference's WAL flock, `src/wal.rs`):
    * every write primitive (append / compact / vacuum) holds the table
    * lock, taken by atomic marker creation. A heartbeat refreshes the
    * lock's mtime while held, so a healthy long write (a multi-hour
    * compaction at fleet scale) is never stolen, while a CRASHED writer's
    * lock goes stale and is stolen after [[GraftTable.LockTtlMs]] —
    * exactly the liveness/safety trade the reference's advisory flock
    * makes. Readers never lock. */
  private def withWriteLock[T](f: => T): T = {
    val deadline = System.currentTimeMillis() + GraftTable.LockWaitMs
    var locked = false
    while (!locked) {
      fs.mkdirs(new Path(path))
      if (GraftTable.createExclusive(fs, lockPath)) locked = true
      else {
        val stale = try {
          System.currentTimeMillis() -
            fs.getFileStatus(lockPath).getModificationTime > GraftTable.LockTtlMs
        } catch { case _: java.io.FileNotFoundException => false }
        if (stale) fs.delete(lockPath, false) // steal; create() re-races
        else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"${meta.name}: timed out waiting for the table write lock")
        else Thread.sleep(50)
      }
    }
    val hb = new Thread(() =>
      try while (!Thread.interrupted()) {
        Thread.sleep(GraftTable.LockTtlMs / 6)
        fs.setTimes(lockPath, System.currentTimeMillis(), -1)
      } catch { case _: InterruptedException => })
    hb.setDaemon(true)
    hb.start()
    try f finally { hb.interrupt(); fs.delete(lockPath, false) }
  }

  // ------------------------------------------------------------- schema --

  private def sortCols: Seq[Column] = meta.sortingColumns.map { k =>
    (k.descending, k.nullsFirst) match {
      case (true, true) => col(k.column).desc_nulls_first
      case (true, false) => col(k.column).desc_nulls_last
      case (false, true) => col(k.column).asc_nulls_first
      case (false, false) => col(k.column).asc_nulls_last
    }
  }

  /** Keep-greatest-by-tiebreak over the dedup keys; ties broken by the
    * tombstone flag (a delete wins over an update stamped at the same
    * microsecond) to keep the view deterministic. */
  private def dedup(df: DataFrame): DataFrame = {
    // no dedup keys = an insert-only table (variant_bench.yaml): reads
    // apply no version resolution
    if (meta.dedupKeys.isEmpty) return df
    // `date` is functionally derived from the time column (a dedup key), so
    // adding it to the window partition spec changes no group — but it
    // makes Catalyst's push-through-window rule see date predicates as
    // partition-subset filters and push them below the window into the
    // scan, where they prune directories (P1's safe complement: version-
    // mutable predicates still stay above).
    // The remaining partition columns (the tenant key) join them for the
    // same reason: rows route to a tenant's directories exactly as the
    // reference routes to per-tenant storage, so an identity's versions
    // all live under one (project_id, date) and the extra keys change no
    // group — while letting Catalyst push `project_id = …` below the
    // window, turning every tenant-scoped MOR read into a partition-
    // pruned scan instead of an all-tenant scan filtered post-dedup.
    val w = Window.partitionBy(
        (meta.dedupKeys ++ meta.partitions :+ "date").distinct.map(col): _*)
      .orderBy(col(meta.dedupTiebreak).desc_nulls_last +:
        meta.tombstoneColumn.map(t => col(t).desc_nulls_last).toSeq: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  private def tombstoneFilter(df: DataFrame): DataFrame =
    meta.tombstoneColumn match {
      case Some(t) => df.filter(!coalesce(col(t), lit(false)))
      case None => df
    }

  /** Stamp version + date, default the tombstone, and conform to the
    * declared schema (order + types, missing columns null) so every file in
    * every version directory carries an identical parquet schema.
    *
    * Two reference behaviors live here: JSON-text values arriving in a
    * Variant column position are parsed to real variants (the
    * VariantInsertRewriter ergonomics, SURVEY §1.4), and a missing
    * non-nullable column rejects the batch at plan time (the reference's
    * insert schema check). */
  private def conform(df: DataFrame,
      versionTime: Option[java.time.LocalDateTime],
      target: StructType): DataFrame = {
    // unknown columns reject the batch (Delta's contract) — evolution is
    // explicit via append(mergeSchema = true), never accidental
    val known = target.fieldNames.toSet + "date" + meta.dedupTiebreak
    val unknown = df.columns.filterNot(known)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"${meta.name}: unknown columns ${unknown.mkString(", ")} — " +
        "append(mergeSchema = true) evolves the table schema")
    // default stamp is captured on the DRIVER, not via now(): same
    // semantics (now() is per-query-constant anyway), but the exact stamp
    // value is known to the writer — the count-index chain guard needs it
    val stamp: Column = lit(versionTime.getOrElse(driverNow()).toString)
      .cast("timestamp_ntz")
    val stamped = df
      .withColumn(meta.dedupTiebreak, stamp)
      .withColumn("date", to_date(col(meta.timeColumn)))
    val inTypes = stamped.schema.fields.map(f => f.name -> f.dataType).toMap
    val projected = target.fields.map { f =>
      inTypes.get(f.name) match {
        case Some(org.apache.spark.sql.types.StringType)
            if f.dataType == org.apache.spark.sql.types.VariantType =>
          try_parse_json(col(f.name)).as(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None if meta.tombstoneColumn.contains(f.name) => lit(false).as(f.name)
        case None if !f.nullable =>
          throw new IllegalArgumentException(
            s"${meta.name}: missing required non-nullable column '${f.name}'")
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    stamped.select(projected.toIndexedSeq: _*)
  }

  // -------------------------------------------------------------- write --

  /** Shadow row-group key: Spark 4's parquet filter builder only matches
    * the UTC-adjusted timestamp logical type (`ParquetFilters`'
    * `ParquetTimestampMicrosType` is `timestampType(true, MICROS)`), so a
    * pushed range on a TIMESTAMP_NTZ column — this engine's time dtype
    * end-to-end — never reaches row-group stats. When the lead sort key
    * is NTZ, every written file therefore materializes it as int64
    * micros under [[GraftTable.RgKeyColumn]]; the FTS sidecar records
    * ranges of the SHADOW column and pushes them as plain long
    * predicates, which parquet evaluates against (tight, flush-sorted)
    * row-group stats. Self-consistent by construction: index build and
    * query both use the stored values, so the session timezone used at
    * write time cancels out. Readers never see the column — every read
    * path uses an explicit schema. Cost: one sorted delta-encoded int64
    * per row. Files written before this change simply yield nulls →
    * unbounded ranges → conservative no-op. */
  private def rgShadowExpr: Option[Column] =
    meta.sortingColumns.headOption.flatMap(k =>
      meta.schema.fields.find(_.name == k.column)).collect {
      case f if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(f.name).cast("timestamp"))
    }

  /** The column the FTS sidecar ranges over: the shadow key when the
    * lead sort key needed one, the lead sort key itself when its type is
    * parquet-pushable, none otherwise. */
  private def rgRangeColumn: Option[String] =
    if (rgShadowExpr.isDefined) Some(GraftTable.RgKeyColumn)
    else meta.sortingColumns.headOption.map(_.column)

  /** Per-column parquet writer options from the schema's field opts
    * (reference `build_writer_properties`, `src/database.rs:11343-11420`):
    * bloom filters opt-IN per point-lookup column (a global enable would
    * pay bloom buffers on every column), dictionary opt-OUT per high-
    * entropy free-text column. DataFrameWriter options flow into the job's
    * Hadoop conf, where parquet-mr applies the `#column` suffix per-column.
    *
    * Bloom sizing is per row group. parquet's adaptive filter fills
    * [[BloomCandidates]] power-of-two bitsets, from
    * `parquet.bloom.filter.max.bytes` (1 MB) down to ~1 KB, drops each one
    * whose capacity at the default 1 % FPP falls below the distinct values
    * seen so far, and writes the smallest survivor. A file never gets a
    * bigger filter than the cap; a 200-row tenant-day gets ~1 KB. The
    * adaptive switch is read only as the global key — its `#column` form
    * is silently ignored — and it applies only to columns with bloom
    * enabled and no fixed NDV. A fixed NDV does not fit here: the
    * reference's 1,000,000 suits its large Delta files, but on this
    * table's one-file-per-(project_id, date) layout it made every file
    * carry 1 MB per bloom column beside a few KB of data. */
  private def writerOptions: Map[String, String] = {
    val bloom = meta.bloomFilterColumns.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      s"parquet.bloom.filter.candidates.number#$c" ->
        GraftTable.BloomCandidates.toString))
    val dict = meta.dictionaryDisabledColumns.map(c =>
      s"parquet.enable.dictionary#$c" -> "false")
    (bloom ++ dict).toMap + ("parquet.bloom.filter.adaptive.enabled" -> "true")
  }

  /** The one partitioned write every data path (append, full and partial
    * compaction) goes through. Each (project_id, date) is co-located
    * before writing: the hash `repartition` sends every key to exactly
    * one reduce partition, so each partition directory gets one file
    * whatever the session's AQE coalesce settings — without it every
    * task would write a file into every directory (tasks × dirs small
    * files). `order` then sorts within the tenant-day so parquet min/max
    * stats are tight for time-range pruning. */
  private def writePartitioned(dir: String, df: DataFrame,
      order: Seq[Column]): Unit =
    rgShadowExpr.map(e => df.withColumn(GraftTable.RgKeyColumn, e))
      .getOrElse(df)
      .repartition(meta.partitions.map(col): _*)
      .sortWithinPartitions(order: _*)
      .write
      .options(writerOptions)
      .mode(SaveMode.Overwrite)
      .partitionBy(meta.partitions: _*)
      .parquet(dir)

  private def driverNow(): java.time.LocalDateTime =
    java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .truncatedTo(java.time.temporal.ChronoUnit.MICROS)

  /** Append a batch as a new committed version. `versionTime` is injectable
    * for deterministic tests and idempotent streaming replays (the
    * reference's virtual-clock trick, `src/functions.rs:465-474`).
    * `mergeSchema = true` evolves the table: input columns the live schema
    * lacks are appended as nullable fields (recorded in the schema log);
    * without it unknown columns reject the batch. */
  def append(df: DataFrame,
      versionTime: Option[java.time.LocalDateTime] = None,
      mergeSchema: Boolean = false): Unit = withWriteLock {
    val stamp = versionTime.getOrElse(driverNow())
    val delta = if (maintainCountIndex) countDelta(df, stamp) else None
    val v = currentVersion() + 1
    val live = liveSchema()
    val target = if (!mergeSchema) live else {
      val extras = df.schema.fields.filterNot(f =>
        live.fieldNames.contains(f.name) || f.name == "date" ||
          f.name == meta.dedupTiebreak)
      if (extras.isEmpty) live
      else StructType(live.fields ++
        extras.map(f => StructField(f.name, f.dataType, nullable = true)))
    }
    writeVersion(v, conform(df, Some(stamp), target),
      evolvedTo = if (target ne live) Some(target) else None)
    delta.foreach { case (prev, d) =>
      writeCountMarker(v, prev + d, stampMicros(stamp))
    }
  }

  /** Conform `df` against the live schema with `time`'s stamp — the
    * projection [[append]] applies, exposed for the buffered write layer,
    * which must stamp rows at INSERT time (visibility) and preserve those
    * stamps at flush time. */
  private[sources] def conformNow(df: DataFrame,
      time: java.time.LocalDateTime): DataFrame =
    conform(df, Some(time), liveSchema())

  /** Append rows already conformed by [[conformNow]] — stamps preserved
    * verbatim (the buffered layer's flush; a re-stamping append would
    * reorder its rows against interactive writes made while buffered). */
  private[sources] def appendConformed(prepared: DataFrame): Unit =
    withWriteLock {
      writeVersion(currentVersion() + 1, prepared)
    }

  /** One committed version directory from conformed rows. `evolvedTo`
    * records a widened schema in the log — written AFTER the data job
    * succeeds and BEFORE the marker, so a failed write leaves no schema
    * record for a version number a later append will reuse (an orphan
    * record would make that version's readers see phantom columns). */
  private def writeVersion(v: Int, prepared: DataFrame,
      evolvedTo: Option[StructType] = None): Unit = {
    writePartitioned(versionDir(v), prepared, sortCols)
    evolvedTo.foreach(writeSchemaFile(v, _))
    commit(v, dates = writtenDateRange(versionDir(v)))
  }

  // --------------------------------------------------- logical count (A6) --

  private def countsDir = s"$path/_counts"

  private def stampMicros(t: java.time.LocalDateTime): Long =
    t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
      t.getNano / 1000L

  /** Latest count marker: (version, resolvedCount, maxStampMicros) — all
    * encoded in the marker NAME (`_c00007.12345.1717200000000000`), so a
    * lookup is one directory listing, like the commit log itself. */
  private def countMarker(): Option[(Int, Long, Long)] = {
    val dir = new Path(countsDir)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(_.startsWith("_c"))
      .flatMap(n => n.drop(2).split("\\.") match {
        case Array(v, c, s) => Some((v.toInt, c.toLong, s.toLong))
        case _ => None
      })
      .sortBy(_._1).lastOption
  }

  private def writeCountMarker(v: Int, count: Long, maxStamp: Long): Unit = {
    fs.mkdirs(new Path(countsDir))
    fs.create(new Path(countsDir, f"_c$v%05d.$count%d.$maxStamp%d"), false)
      .close()
  }

  /** The exact resolved-count delta this batch will cause, or None when
    * the chain cannot be safely advanced. The keep-greatest window makes a
    * batch row win against prior versions only when its stamp is strictly
    * newer than theirs — so the chain requires strictly increasing append
    * stamps (recorded as maxStamp; an out-of-order `versionTime` breaks
    * the chain and COUNT falls back to the window — never wrong, only
    * slower). The join touches only the batch's own date partitions:
    * identities are date-local (`date = to_date(time)`, time ∈ dedupKeys),
    * so at 100 TB an append's maintenance cost is bounded by the trailing
    * day(s) it writes, not the table. */
  private def countDelta(df: DataFrame,
      stamp: java.time.LocalDateTime): Option[(Long, Long)] = {
    val prev = countMarker() match {
      case None if currentVersion() == 0 => Some((0L, Long.MinValue))
      case Some((v, c, s)) if v == currentVersion() => Some((c, s))
      case _ => None // chain broken by an unmaintained write
    }
    prev.flatMap { case (prevCount, maxStamp) =>
      if (stampMicros(stamp) <= maxStamp) None
      else {
        import spark.implicits._
        val keyCols = meta.dedupKeys.map(col)
        // within-batch resolution: equal stamps all round, so the window's
        // tombstone-desc tie rule collapses to "a delete wins"
        val batch = df
          .withColumn("__del", meta.tombstoneColumn
            .filter(df.columns.contains) // input may omit it (conform defaults)
            .map(t => coalesce(col(t).cast("boolean"), lit(false)))
            .getOrElse(lit(false)))
          .groupBy(keyCols: _*).agg(max(col("__del")).as("__del"))
        val dates = df.select(to_date(col(meta.timeColumn)).cast("string"))
          .distinct().as[String].collect().toSeq
        val priorLive = resolvedView(Some(dates))
          .select(keyCols: _*).withColumn("__prior", lit(true))
        val d = batch.join(priorLive, meta.dedupKeys, "left")
          .select(sum(
            when(!col("__del") && col("__prior").isNull, 1L)
              .when(col("__del") && col("__prior") === true, -1L)
              .otherwise(0L)).as("d"))
          .as[Option[Long]].head().getOrElse(0L)
        Some((prevCount, d))
      }
    }
  }

  /** Exact resolved row count from the marker chain — valid only when the
    * chain reaches the current snapshot. */
  def logicalCount(): Option[Long] =
    countMarker().filter(_._1 == currentVersion()).map(_._2)

  /** `COUNT(*)` of the resolved view: marker chain when intact, dedup
    * window otherwise. */
  def countRows(): Long = logicalCount().getOrElse(readResolved().count())

  // --------------------------------------------------------------- read --

  /** Raw physical rows of the current snapshot — all versions, tombstones
    * included. Empty table → empty DataFrame with the declared schema.
    *
    * Each version directory becomes its own scan leg (one union, the
    * reference's UnionExec over mem∪hot∪delta legs, S1): partition
    * discovery runs per leg, so `project_id`/`date` predicates prune
    * directories inside every leg, and compaction keeps the leg count
    * bounded. */
  def readRaw(): DataFrame = rawFrom(visibleDirs(commits()))

  /** Schema effective for a set of version dirs: the one recorded at the
    * NEWEST version in the set (schema only ever widens, and parquet's
    * read-by-name fills evolved columns with null over older files).
    * Memoized per committed version — a schema file for a version ≤ v can
    * never appear after v commits (versions are dense and the file is
    * written before its version's marker), so the mapping is immutable
    * and each read-path plan build skips the extra `_schema` listing. */
  private def dirsSchema(dirs: Seq[String]): StructType =
    if (dirs.isEmpty) meta.schema
    else {
      val v = dirs.map(_.split('/').last.drop(1).toInt).max
      GraftTable.schemaCache.getOrElseUpdate((path, v), schemaAt(v))
    }

  private def rawFrom(dirs: Seq[String]): DataFrame =
    rawFrom(dirs, dirsSchema(dirs))

  private def rawFrom(dirs: Seq[String], s: StructType,
      keep: Int = 8): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    else cachedPlan(s"${s.hashCode}|${dirs.mkString(";")}", keep) {
      dirs.map(d => spark.read.schema(s).parquet(d)).reduce(_ unionByName _)
    }

  /** Memoize a scan plan per (session, table) under fingerprint `ck`:
    * building one performs driver-side partition discovery over every
    * (tenant, day) dir of every leg — at fleet scale that listing dwarfs
    * a point query. Files inside a committed version dir are immutable,
    * so a hit can never be stale (the reference's ListingTable/plan-cache
    * role). A per-table LRU of `keep` entries: the resolved view sizes
    * it to hold every live leg plus the leg unions composed of them, so
    * a read of an unchanged snapshot is one hit per union whatever its
    * leg count, and a new commit re-lists only its own leg. */
  private def cachedPlan(ck: String, keep: Int)(
      build: => DataFrame): DataFrame = {
    val key = (System.identityHashCode(spark), path)
    def entries = GraftTable.snapshotCache.getOrElse(key, Nil)
    val df = entries.find(_._1 == ck).map(_._2).getOrElse(build)
    // re-read: `build` may have cached the legs it composes
    GraftTable.snapshotCache.put(key,
      ((ck, df) :: entries.filterNot(_._1 == ck)).take(keep max 8))
    df
  }

  /** The merge-on-read view: latest version per identity, tombstones out.
    *
    * Compaction gate: when no append leg serves a date (a compacted-only
    * snapshot, or one whose appends newer partial bases cover), every
    * leg was MATERIALIZED by dedup+tombstone-filter at compaction time,
    * so re-running the window over them is an identity that still costs
    * a full-table shuffle — skip it. Post-compaction reads are then
    * windowless: a recent-page top-k
    * (`ORDER BY timestamp DESC LIMIT k`) plans as TakeOrderedAndProject
    * straight over the pruned scan, which is why the reference's
    * per-leg-local-limit rule (`optimizers/ordered_union_for_topk.rs`, T1)
    * has no remaining work to do on a compacted snapshot. The commit list
    * is read ONCE for both the gate and the scan so a racing append cannot
    * split the decision from the snapshot it applies to. */
  def readResolved(): DataFrame = resolvedView(None)

  /** The resolved view, optionally restricted to a set of `date` partition
    * values. The restriction is applied to the RAW legs (where `date` is
    * a partition column, so directories prune before IO) and is exact:
    * `date` derives from the time column, which is a dedup key, so every
    * version of an identity lives in one date partition and the window
    * never needs rows outside the selected dates.
    *
    * Date-bounded window: when a compaction base exists, only the dates
    * the post-base appends' markers record as TOUCHED can hold version
    * conflicts — `date`
    * derives from the time column, a dedup key, so an identity lives in
    * exactly one date partition, and the base is already materialized
    * resolved. Untouched base dates therefore stream straight off the scan
    * (no shuffle), and the dedup window runs over touched dates only. This
    * is the structural answer to the reference's fragmentation pathology
    * (BASELINE: 336 ms compacted vs 14–31 s fragmented for the same
    * window): reads under streaming ingest re-window the trailing day(s),
    * never the historical bulk. Falls back to the full window when no base
    * exists or more than 64 dates are touched. */
  private def resolvedView(restrict: Option[Seq[String]]): DataFrame =
    resolvedFrom(commits(), restrict.map(ds => col("date").isin(ds: _*)))

  private def expandDates(r: DateRange): Seq[String] =
    Iterator.iterate(r._1)(_.plusDays(1)).takeWhile(!_.isAfter(r._2))
      .map(_.toString).toSeq

  /** `date BETWEEN lo AND hi` — the partition predicate a partial base
    * rewrites and, negated, every older leg's exclusion. */
  private def inRange(lo: java.time.LocalDate, hi: java.time.LocalDate): Column =
    col("date").between(lit(lo.toString).cast("date"), lit(hi.toString).cast("date"))

  /** The one resolved-view constructor over a commit list, also
    * handling PARTIAL compaction bases: each leg is read under an
    * anti-range exclusion predicate (`NOT date BETWEEN lo AND hi` for
    * every newer partial base — the reference's mem∪storage per-bucket
    * exclusion filters, J3/`src/database.rs:13097-13114`), so a date is
    * served by exactly its newest covering base plus later appends;
    * legs that serve no date are skipped. `schemaOv` overrides the
    * snapshot schema (time travel). `pending` is an uncommitted
    * in-memory leg (the mem buffer): it records no dates, so it can
    * conflict with any identity and takes the full window over every
    * leg. */
  private def resolvedFrom(cs: Seq[Commit], restrict: Option[Column],
      schemaOv: Option[StructType] = None,
      pending: Option[DataFrame] = None): DataFrame = {
    val snap = new Snapshot(cs)
    val s = schemaOv.getOrElse(dirsSchema(snap.vis.map(c => versionDir(c.v))))
    def bound(df: DataFrame): DataFrame =
      restrict.map(df.filter).getOrElse(df)
    // the plan cache holds every live leg and the unions of them
    val keep = snap.live.size + 8
    def leg(c: Commit): DataFrame =
      snap.covered(c).foldLeft(rawFrom(Seq(versionDir(c.v)), s, keep)) {
        case (df, (lo, hi)) => df.filter(!inRange(lo, hi))
      }
    // one cached plan per leg set; `restrict` filters above the union and
    // Catalyst pushes it into every leg's scan
    def union(legs: Seq[Commit]): DataFrame = bound(legs match {
      case Seq() => rawFrom(Nil, s)
      case Seq(c) => leg(c)
      case _ => cachedPlan(s"legs|${s.hashCode}|" + legs.map(c =>
          versionDir(c.v) + snap.covered(c).mkString).mkString(";"), keep) {
        legs.map(leg).reduce(_ unionByName _)
      }
    })
    val stored = union(snap.live)
    if (pending.isDefined) return tombstoneFilter(dedup(
      stored.unionByName(bound(pending.get), allowMissingColumns = true)))

    // materialized legs were written resolved (dedup + tombstone filter at
    // compaction time); append legs carry raw versions, and one whose
    // dates are unknown can conflict with any identity
    val (materialized, appends) = snap.live.partition(c =>
      c.baseOf.isDefined || c.pbase)
    val touched = appends.flatMap(snap.liveDates).distinct
    if (appends.isEmpty) stored
    else if (materialized.isEmpty || appends.exists(_.dates.isEmpty) ||
        touched.size > 64)
      tombstoneFilter(dedup(stored))
    else union(materialized)
      .filter(!col("date").isin(touched: _*))
      .unionByName(tombstoneFilter(dedup(
        stored.filter(col("date").isin(touched: _*)))))
  }

  /** The resolved view as of committed version `asOf` — time travel, which
    * the reference inherits from its Delta storage layer (`VERSION AS OF`).
    * A snapshot stays reconstructable until [[vacuum]] reclaims the
    * directories a later compaction subsumed (Delta's retention contract);
    * version numbers are dense (1..current), so a gap in the surviving
    * markers proves the snapshot is gone and raises instead of silently
    * returning a partial table. Bypasses the snapshot cache, which holds
    * only the CURRENT snapshot's plan. */
  def readResolvedAsOf(asOf: Int): DataFrame = {
    val cs = commits().filter(_.v <= asOf)
    val covered = visibleCommits(cs).iterator.flatMap(c =>
      c.v +: c.baseOf.map(b => 1 to b).getOrElse(Nil)).toSet
    if (!(1 to asOf).forall(covered)) throw new IllegalStateException(
      s"${meta.name}: version $asOf is not reconstructable " +
        "(vacuumed, or never committed)")
    // the snapshot's OWN schema (Delta's time-travel contract): columns
    // evolved after `asOf` are not visible in the as-of view
    resolvedFrom(cs, None, Some(schemaAt(asOf)))
  }

  /** Change-data-feed-style diff between two committed snapshots (the
    * surface Delta exposes as CDF / `table_changes`, which the reference
    * inherits from its Delta storage layer): one row per changed
    * identity, tagged `insert` / `delete` / `update_preimage` /
    * `update_postimage`. Identity is the dedup keys plus the routing
    * partitions (exactly the dedup window's key — one resolved row per
    * identity per snapshot); a row counts as updated when any payload
    * column differs (variant payloads compare via their canonical JSON —
    * VariantType itself is not comparable).
    *
    * Scale: two resolved snapshots, ONE full-outer join keyed by
    * identity; payload comparison is a null-safe struct equality inside
    * the join's projection, and the four change classes are filters over
    * the joined frame (Spark shares the join across the union's legs).
    * No driver-side data path. */
  def snapshotDiff(v1: Int, v2: Int): DataFrame = {
    require(v1 <= v2, s"snapshotDiff: $v1 > $v2")
    val idCols = (meta.dedupKeys ++ meta.partitions).distinct
    val a = readResolvedAsOf(v1)
    val b = readResolvedAsOf(v2)
    // compare on the narrower (older) schema: columns evolved after v1
    // would mark every row updated even when nothing it had changed
    val payload = a.columns.toSeq.filterNot(c =>
      idCols.contains(c) || c == "date" || c == meta.dedupTiebreak)
    val aTypes = a.schema.fields.map(f => f.name -> f.dataType).toMap
    def cmp(prefix: String) = struct(payload.map { c =>
      val v = col(s"$prefix$c")
      (aTypes(c) match {
        case org.apache.spark.sql.types.VariantType => to_json(v)
        case _ => v
      }).as(c)
    }: _*)
    def side(df: DataFrame, p: String) = df.select(
      idCols.map(col) ++ payload.map(c => col(c).as(s"$p$c"))
        :+ lit(true).as(s"${p}present"): _*)
    val j = side(a, "__a_").join(side(b, "__b_"), idCols, "full_outer")
    val inA = coalesce(col("__a_present"), lit(false))
    val inB = coalesce(col("__b_present"), lit(false))
    val changed = !(cmp("__a_") <=> cmp("__b_"))
    // ONE pass over ONE join: each joined row explodes into its change
    // rows (0 for unchanged, 2 for updates) and the payload picks the
    // side per tag. A union of four filtered legs would re-execute the
    // join — and the two resolved dedup reads under it — four times.
    val tags = when(inB && !inA, array(lit("insert")))
      .when(inA && !inB, array(lit("delete")))
      .when(changed,
        array(lit("update_preimage"), lit("update_postimage")))
      .otherwise(array().cast("array<string>"))
    j.select(explode(tags).as("change_type") +: idCols.map(col)
        ++: payload.map(c => col(s"__a_$c"))
        ++: payload.map(c => col(s"__b_$c")): _*)
      .select(col("change_type") +: idCols.map(col)
        ++: payload.map(c =>
          when(col("change_type").isin("insert", "update_postimage"),
            col(s"__b_$c")).otherwise(col(s"__a_$c")).as(c)): _*)
  }

  /** Newest version committed at or before `ts` (`TIMESTAMP AS OF`):
    * marker files are created atomically at commit time, so their
    * modification times ARE the commit log's timeline. */
  def versionAsOf(ts: java.time.Instant): Int = {
    val dir = new Path(commitsDir)
    if (!fs.exists(dir)) return 0
    fs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.startsWith("_v") &&
        s.getModificationTime <= ts.toEpochMilli)
      .map(_.getPath.getName.drop(2).takeWhile(_.isDigit).toInt)
      .sorted.lastOption.getOrElse(0)
  }

  /** The mem∪storage union read (reference S1's mem leg,
    * `ProjectRoutingTable::scan` unioning MemBuffer ahead of flushed data):
    * `pending` is an in-flight, not-yet-committed batch (the mem buffer of
    * a streaming ingester between micro-batch commits). It is conformed
    * with a version stamp STRICTLY NEWER than any committed write, so the
    * dedup window resolves mem-vs-storage version conflicts exactly like
    * the reference's keep-greatest DedupExec — no mem-vs-storage
    * exclusion predicates needed (J3): a row present in both legs keeps
    * the pending version, and after the batch commits with the same stamp
    * the view is unchanged (read-your-writes without double counting).
    * Stored legs keep their partial-base exclusions ([[resolvedFrom]]). */
  def readResolvedWith(pending: DataFrame,
      pendingTime: java.time.LocalDateTime): DataFrame = {
    val cs = commits()
    resolvedFrom(cs, None, pending = Some(
      conform(pending, Some(pendingTime), dirsSchema(visibleDirs(cs)))))
  }

  /** The resolved view unioned with rows ALREADY conformed by
    * [[conformNow]] — the buffered write layer's read path, where each
    * buffered batch carries its own insert-time stamp. */
  private[sources] def readResolvedWithConformed(pending: DataFrame): DataFrame =
    resolvedFrom(commits(), None, pending = Some(pending))

  /** Recent-page top-k (T1, the reference's
    * `optimizers/ordered_union_for_topk.rs` early-terminating TopK):
    * `ORDER BY <time> DESC [, tieBreak…] LIMIT k` over the resolved view,
    * scanning only the newest date partitions that can contain the answer.
    *
    * Spark's TakeOrderedAndProject already does the reference rule's
    * per-leg local-limit (each scan partition keeps its own top-k before
    * the single merge), but it cannot terminate a whole-window scan early
    * the way the streaming SortPreservingMerge does — so the bounding
    * happens one level up, at the partition-directory level: scan the
    * newest date, and only if fewer than k rows survive resolution widen
    * geometrically (1, 2, 4, … newest dates). Total work is ≤ 2× the
    * final bounded scan; a dashboard "recent page" over years of
    * partitions touches exactly the trailing day(s). `predicate` is
    * applied above the dedup window (version-mutable columns allowed).
    *
    * With a gate attached ([[attachGate]]): every probe runs under
    * admission control, classified by how deep its date selection
    * reaches (the exhausted-widening fallback is an unbounded scan), and
    * each probe MATERIALIZES its page (`localCheckpoint` of ≤ k rows)
    * inside its one admitted execution — a satisfying probe IS the
    * served result, so gated serving has no count+fetch double execution
    * and no commit race between probe and serve; the caller receives an
    * already-served page instead of a plan that would re-execute the
    * scan ungated. */
  def recentPage(k: Int, tieBreak: Seq[Column] = Nil,
      predicate: Column = lit(true)): DataFrame = {
    val order = col(meta.timeColumn).desc +: tieBreak
    def page(df: DataFrame): DataFrame =
      df.filter(predicate).orderBy(order: _*).limit(k)
    // unknown dates (a range-less leg holding rows): no bounded probe
    val dates = new Snapshot(commits()).dates.getOrElse(Nil)
    // admission depth of a probe over `sel` (newest-first): now back to
    // the oldest selected date's start of day
    def lookbackTo(sel: Seq[String]): Option[Long] = sel.lastOption.map { d =>
      math.max(0L, graft.functions.GraftClock.nowMicros -
        java.time.LocalDate.parse(d).atStartOfDay
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
    }
    var n = 1
    while (n < dates.length) {
      val sel = dates.take(n)
      val lb = lookbackTo(sel)
      // ONE execution per widening step, gated or not: the probe
      // MATERIALIZES its page (`localCheckpoint` of ≤ k rows), the
      // widening test reads the checkpointed frame, and a satisfying
      // probe IS the served result — no count+fetch double scan and no
      // commit race between probe and serve. (A date selection holding
      // ≥ k rows is complete: every unselected date is strictly older
      // than every selected row, so its limit-k page is the global one.)
      val probe = gateOpt match {
        case Some(_) => gatedAction(lb)(page(resolvedView(Some(sel))).localCheckpoint())
        case None => page(resolvedView(Some(sel))).localCheckpoint()
      }
      if (probe.count() >= k) return probe
      // a failed probe's checkpointed rows are dead the moment we widen:
      // free the executor blocks now instead of leaking them until the
      // driver GCs the frame (several widening steps per serving call)
      GraftTable.dropCheckpoint(probe)
      n *= 2
    }
    if (gateOpt.isEmpty) page(readResolved()).localCheckpoint()
    else gatedAction(None)(page(readResolved()).localCheckpoint())
  }

  /** The single base directory when the current snapshot is exactly one
    * compacted version — the gate for metadata-only counts
    * ([[graft.plans.CountFastPath]]): a compacted snapshot IS the resolved
    * view, so physical row counts are logical row counts. */
  def compactBaseDir(): Option[String] =
    compactBase(commits()).map(b => versionDir(b.v))

  /** The full base when it is the only live leg ([[Snapshot.live]]) —
    * later empty writes hold no rows and leave the snapshot compacted. */
  private def compactBase(cs: Seq[Commit]): Option[Commit] =
    new Snapshot(cs).live match {
      case Seq(b) if b.baseOf.isDefined => Some(b)
      case _ => None
    }

  // --------------------------------------------------------- text index --

  private def textIndexDir(v: Int, column: String): String =
    f"$path/_textindex/v$v%05d/$column"

  /** All 3-grams of a (lowercased) string — the reference's `ngram3`
    * tantivy tokenizer (`otel_logs_and_spans.yaml:100-101`), as a
    * codegen'd array expression. Trigrams are the right unit for a
    * SUBSTRING-match prefilter: if a document contains token `t` as a
    * substring, every trigram of `t` is a contiguous substring of the
    * document, so a file lacking any trigram of `t` provably has no hit. */
  private def trigrams(c: Column): Column = {
    val t = lower(c)
    when(t.isNotNull && length(t) >= 3,
      array_distinct(transform(sequence(lit(0), length(t) - 3),
        i => t.substr(i + lit(1), lit(3)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Build the trigram→file inverted index over `column` for the current
    * compaction base — the Spark-native rendering of the reference's
    * tantivy file-pruning sidecar (S3, `src/tantivy_index/search.rs`, scan
    * integration `src/database.rs:11650-11708`). One distributed pass:
    * explode trigrams, distinct (gram, file), write parquet next to the
    * data. Requires a compacted-only snapshot: compacted files ARE the
    * resolved view, so later skipping hitless files cannot change which
    * version of an identity survives the dedup window (the correctness
    * trap a raw-version index would fall into). */
  /** The column's declared FTS tokenizer; `ngram3` unless the schema
    * opted the field into `raw` (whole-value terms). */
  private def ftsTokenizer(column: String): String =
    meta.ftsTokenizers.getOrElse(column, "ngram3")

  def buildTextIndex(column: String): Unit = {
    val b = compactBase(commits()).getOrElse(throw new IllegalStateException(
      s"${meta.name}: text index requires a compacted-only snapshot"))
    val base = versionDir(b.v)
    // Row-group parity (reference tantivy row-ordinal selections,
    // `src/tantivy_index/search.rs:126-216`): alongside the (gram, file)
    // pair, record the min/max of the table's LEAD SORT KEY over the rows
    // holding the gram. Flush sorts files by that key, so parquet
    // row-group stats are tight on it — a query range derived from these
    // bounds lets the scan decode only the row groups that can hold hits
    // (Spark's native rendering of "read only the matching ordinals").
    val keyCol = rgRangeColumn
    val readSchema =
      if (rgShadowExpr.isDefined) liveSchema()
        .add(GraftTable.RgKeyColumn, org.apache.spark.sql.types.LongType)
      else liveSchema()
    val rows = spark.read.schema(readSchema).parquet(base)
      .transform(df => allTenants(Seq(base)).fold(df)(df.filter))
      .select(input_file_name().as("file"), col(column).as("t"),
        keyCol.map(col).getOrElse(lit(null).cast("long")).as("k"))
    // `raw` fields index one term per DISTINCT (file, whole value) — the
    // identifier/enum shape, where trigram expansion would multiply the
    // index ~|value| times for no pruning benefit; `ngram3` fields index
    // the trigram set for substring pruning.
    val terms =
      if (ftsTokenizer(column) == "raw")
        rows.filter(col("t").isNotNull)
          .select(col("file"), lower(col("t")).as("gram"), col("k"))
      else rows.select(col("file"),
        explode(trigrams(col("t"))).as("gram"), col("k"))
    // `knulls`: count of NULL-keyed holders per (file, gram). min/max
    // skip nulls, so a null-keyed hit row is invisible to [klo, khi] —
    // the empty-intersection drop below is only sound against a gram
    // with zero null-keyed holders (such a row would have to hold EVERY
    // query gram).
    terms.groupBy("file", "gram")
      .agg(min(col("k")).as("klo"), max(col("k")).as("khi"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("knulls"))
      .write.mode(SaveMode.Overwrite).parquet(textIndexDir(b.v, column))
  }

  /** `text_match(column, query)` over the resolved view, file-pruned by
    * the trigram index when one exists for the current compaction base
    * (J2, the reference's FTS-hit semi-join). The index is a conservative
    * prefilter — candidate files still evaluate the real predicate, so
    * results are identical to the unindexed scan; only the IO differs.
    * Index consultation is one small aggregation over (gram, file) pairs;
    * only the matching file NAMES reach the driver (the reference
    * collects the same pruned file list). Tokens shorter than 3 chars
    * cannot prune (no trigram) and fall through to the full scan's
    * predicate, which still enforces them. */
  // null-safe widest-bound combiners for index key ranges (null = the
  // range is unknown → unbounded, the conservative direction)
  private def cmpAny(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)
  private def minAny(a: Any, b: Any): Any =
    if (a == null || b == null) null else if (cmpAny(a, b) <= 0) a else b
  private def maxAny(a: Any, b: Any): Any =
    if (a == null || b == null) null else if (cmpAny(a, b) >= 0) a else b

  def textSearch(column: String, query: String): DataFrame = {
    val full = readResolved()
      .filter(graft.functions.F.text_match(col(column), query))
    val toks = query.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val grams = toks.filter(_.length >= 3).flatMap(_.sliding(3)).distinct
    val raw = ftsTokenizer(column) == "raw"
    val indexed = for {
      b <- compactBase(commits())
      base = versionDir(b.v)
      idx = textIndexDir(b.v, column)
      if (if (raw) toks.nonEmpty else grams.nonEmpty) &&
        fs.exists(new Path(idx))
    } yield {
      // `raw` index rows are whole values, so the candidate test is the
      // text_match predicate itself evaluated on the index entry — exact
      // pruning (a file survives iff some distinct value in it matches),
      // with no minimum token length; `ngram3` rows are trigrams, so a
      // file survives iff it holds EVERY query trigram (conservative:
      // grams may straddle different rows).
      //
      // Row-group parity: every hit row's sort key lies inside its gram's
      // recorded [klo, khi] — for ngram3 a hit holds ALL query grams, so
      // its key lies in the INTERSECTION [max(klo), min(khi)]; an empty
      // intersection disproves any single-row hit and drops the file
      // outright (pruning the reference's file-level index cannot do).
      // The surviving range is pushed into each file's scan, where
      // parquet row-group stats on the flush-sort key skip the groups
      // outside it. `raw` hits are whole matching values, so the range is
      // their UNION [min(klo), max(khi)].
      val idxDfRaw = spark.read.parquet(idx)
      val idxDf0 = // indexes written before range recording: file-only
        if (idxDfRaw.columns.contains("klo")) idxDfRaw
        else idxDfRaw.withColumn("klo", lit(null))
          .withColumn("khi", lit(null))
      val idxDf = // pre-knulls indexes: unknown → conservative (assume
        // null-keyed holders exist, so the lo>hi drop never fires)
        if (idxDf0.columns.contains("knulls")) idxDf0
        else idxDf0.withColumn("knulls", lit(1L))
      val cand: Array[(String, Any, Any)] =
        (if (raw) idxDf
          .filter(toks.map(t => col("gram").contains(lit(t))).reduce(_ && _))
          .groupBy("file")
          .agg(min(col("klo")).as("lo"), max(col("khi")).as("hi"))
        else idxDf
          .filter(col("gram").isin(grams: _*))
          .groupBy("file")
          .agg(count_distinct(col("gram")).as("n"),
            max(col("klo")).as("lo"), min(col("khi")).as("hi"),
            // a null-keyed hit row must hold EVERY gram, so one gram
            // with zero null-keyed holders disproves it and makes the
            // empty-intersection drop sound; otherwise keep the file —
            // the scan's isNull escape serves the possible null-key hits
            min(col("knulls")).as("minnulls"))
          .filter(col("n") === grams.length &&
            (col("lo").isNull || col("hi").isNull || col("minnulls") > 0 ||
              col("lo") <= col("hi")))
          .drop("n", "minnulls"))
          // sorted by file so the leg order (and the plan) does not
          // follow the aggregation's collect order
          .collect().map(r => (r.getString(0), r.get(1), r.get(2)))
          .sortBy(_._1)
      val keyCol = rgRangeColumn
      val legSchema =
        if (rgShadowExpr.isDefined) liveSchema()
          .add(GraftTable.RgKeyColumn, org.apache.spark.sql.types.LongType)
        else liveSchema()
      val pred = graft.functions.F.text_match(col(column), query)
      def leg(files: Seq[String], lo: Any, hi: Any): DataFrame = {
        val scan = spark.read.option("basePath", base).schema(legSchema)
          .parquet(files: _*)
        val ranged = (keyCol, Option(lo), Option(hi)) match {
          case (Some(k), Some(l), Some(h)) =>
            // the NULL escape keeps hit rows whose key is null (min/max
            // in the index ignore nulls, so the range only covers the
            // non-null rows); parquet still skips row groups whose
            // null_count is 0 and whose stats miss the range
            scan.filter((col(k) >= lit(l) && col(k) <= lit(h)) ||
              col(k).isNull)
          case _ => scan
        }
        ranged.filter(pred).drop(GraftTable.RgKeyColumn)
      }
      if (cand.isEmpty) full.limit(0)
      else if (cand.length > 32)
        // many candidates: one multi-file scan with the union range —
        // still row-group-prunes, without a 1000-leg plan
        leg(cand.map(_._1).toSeq,
          cand.map(_._2).reduce((a, b) => minAny(a, b)),
          cand.map(_._3).reduce((a, b) => maxAny(a, b)))
      else cand.map { case (f, lo, hi) => leg(Seq(f), lo, hi) }
        .reduce(_ unionByName _)
    }
    val result = indexed.getOrElse(full)
    // gated serving: execute the search under admission control and hand
    // back the materialized hits. An index-pruned search is narrow work
    // (candidate files only); the unindexed fallback is a full-corpus
    // scan, which classifies as an unbounded lookback.
    if (gateOpt.isEmpty) result
    else gatedAction(if (indexed.isDefined) Some(0L) else None)(
      result.localCheckpoint())
  }

  // ---------------------------------------------------------------- DML --

  private def targetCols: Seq[String] =
    liveSchema().fieldNames.toSeq.filterNot(c =>
      c == meta.dedupTiebreak || c == "date")

  /** Version-append DML must write a row's new version into the SAME
    * (identity, partition) group the old versions occupy — the dedup
    * window partitions by (dedupKeys, partitions, date), so an assignment
    * that moved a row to another tenant/identity would leave the old
    * version visible beside the new one instead of superseding it. The
    * reference has the same contract structurally: DML routes within a
    * (project, table) and never rewrites routing keys. */
  private def requireValueAssignments(assignments: Map[String, Column],
      op: String): Unit = {
    val frozen = (meta.dedupKeys ++ meta.partitions).toSet
    val bad = assignments.keySet intersect frozen
    require(bad.isEmpty,
      s"$op cannot assign identity/partition columns [${bad.mkString(", ")}]" +
        ": version-append resolution would keep both old and new versions")
  }

  /** Version-append UPDATE (X2): append fresh versions of the matching
    * resolved rows with `assignments` applied. */
  def update(predicate: Column, assignments: Map[String, Column],
      versionTime: Option[java.time.LocalDateTime] = None): Unit = {
    requireValueAssignments(assignments, "UPDATE")
    val matched = readResolved().filter(predicate)
    val updated = assignments.foldLeft(matched) { case (d, (c, v)) =>
      d.withColumn(c, v)
    }
    append(updated.selectExpr(targetCols: _*), versionTime)
    markDmlDirty()
  }

  /** `UPDATE … FROM source` (reference `src/dml.rs:86-115,158-240`): the
    * resolved view (alias `t`) hash-joins `source` (alias `s`) on `on`;
    * assignments may reference both sides (`col("s.x")`). Only matched
    * identities get new versions. Unlike the reference there is no
    * MAX_UPDATE_SOURCE_ROWS cap — the join is distributed, and Catalyst
    * broadcasts the source side when it is small.
    *
    * `targetClamp` is the reference's flush-watermark predicate clamp
    * (`src/dml_coalescer.rs:420-424`): a target-side prune (time window)
    * that pushes below the dedup window so the scan reads only the
    * clamped partitions. Caller contract: it must cover every row the
    * join can match, or those rows silently keep their old versions. */
  def updateFrom(source: DataFrame, on: Column,
      assignments: Map[String, Column],
      versionTime: Option[java.time.LocalDateTime] = None,
      targetClamp: Option[Column] = None): Unit = {
    append(updateFromBatch(targetClamp.foldLeft(readResolved())(_ filter _),
      source, on, assignments), versionTime)
    markDmlDirty()
  }

  /** The UPDATE…FROM new-version batch against an EXPLICIT target view —
    * shared by [[updateFrom]] (storage view) and the buffered layer's
    * enrichment path (mem∪storage view), so the two cannot diverge on
    * the join/projection semantics. Returns the rows to version-append;
    * the caller picks where they land (committed version vs buffer). */
  private[sources] def updateFromBatch(target: DataFrame, source: DataFrame,
      on: Column, assignments: Map[String, Column]): DataFrame = {
    requireValueAssignments(assignments, "UPDATE FROM")
    val joined = target.alias("t").join(source.alias("s"), on, "inner")
    val projected = targetCols.map { c =>
      assignments.get(c).map(_.as(c)).getOrElse(col(s"t.$c").as(c))
    }
    joined.select(projected: _*)
  }

  /** MERGE (reference `perform_delta_merge_update`, `src/dml.rs:1272+`),
    * version-append flavor: matched target identities get updated versions,
    * unmatched source rows are inserted. `keys` are the equi-join columns;
    * both legs land in one appended version. */
  def merge(source: DataFrame, keys: Seq[String],
      whenMatched: Map[String, Column],
      insertUnmatched: Boolean = true,
      versionTime: Option[java.time.LocalDateTime] = None): Unit = {
    requireValueAssignments(whenMatched, "MERGE")
    val resolved = readResolved()
    val matched = resolved.alias("t")
      .join(source.alias("s"), keys, "inner")
    val updated = targetCols.map { c =>
      whenMatched.get(c).map(_.as(c)).getOrElse(
        if (keys.contains(c)) col(c) else col(s"t.$c").as(c))
    }
    val updates = matched.select(updated: _*)
    val batch =
      if (!insertUnmatched) updates
      else {
        val srcCols = source.columns.toSet
        val inserts = source.join(resolved.select(keys.map(col): _*),
            keys, "left_anti")
          .select(targetCols.filter(srcCols.contains).map(col): _*)
        val conformedInserts = targetCols.foldLeft(inserts) { (d, c) =>
          if (srcCols.contains(c)) d
          else d.withColumn(c, lit(null))
        }.selectExpr(targetCols: _*)
        updates.unionByName(conformedInserts)
      }
    append(batch, versionTime)
    markDmlDirty()
  }

  /** Version-append DELETE: append tombstone versions. */
  def delete(predicate: Column,
      versionTime: Option[java.time.LocalDateTime] = None): Unit = {
    val t = meta.tombstoneColumn.getOrElse(
      throw new IllegalStateException(s"${meta.name} has no tombstone column"))
    val matched = readResolved().filter(predicate).withColumn(t, lit(true))
    append(matched.selectExpr(targetCols: _*), versionTime)
    markDmlDirty()
  }

  // -------------------------------------------------------- maintenance --

  // ---- DML dirty-bin queue (reference `src/dirty_bin_queue.rs` +
  // `database.rs:4715`: every dedup-keyed write records the (date, bin)
  // buckets it touched; maintenance targets those first). Here the bin is
  // the date partition, the queue is a best-effort JSON file beside the
  // commit markers (tmp+rename, warn-and-continue on IO failure — losing
  // it degrades to the ordinary backlog order, never to wrong data), and
  // [[maintenanceSweep]] gives queued dates two privileges: they count as
  // dirty at ANY append count (a single DML version already forces MOR
  // window resolution on every read of that date — the exact fragmentation
  // compaction exists to remove), and their runs are taken BEFORE the
  // ordinary oldest-first backlog.
  private def dmlQueuePath = new Path(commitsDir, "_dml_dirty.json")

  private[graft] def dmlDirtyDates(): Set[String] =
    try {
      if (!fs.exists(dmlQueuePath)) Set.empty
      else {
        val in = fs.open(dmlQueuePath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.split("[\\[\\],\"\\s]+").filter(_.nonEmpty).toSet
      }
    } catch {
      case e: java.io.IOException =>
        logWarning(s"discarding unreadable DML dirty queue: $e"); Set.empty
    }

  private def storeDmlDirty(dates: Set[String]): Unit =
    try {
      val tmp = new Path(commitsDir, "_dml_dirty.json.tmp")
      val out = fs.create(tmp, true)
      out.write(dates.toSeq.sorted
        .mkString("[\"", "\",\"", "\"]").getBytes("UTF-8"))
      out.close()
      fs.delete(dmlQueuePath, false)
      if (!fs.rename(tmp, dmlQueuePath))
        logWarning("failed to persist DML dirty queue (rename)")
    } catch {
      case e: java.io.IOException =>
        logWarning(s"failed to persist DML dirty queue: $e")
    }

  private def logWarning(msg: String): Unit =
    System.err.println(s"[graft] ${meta.name}: $msg")

  /** Record the newest commit's date range as DML-dirtied. Called by the
    * DML paths right after their version append — the commit marker
    * already carries the touched range, so no data IO. */
  private def markDmlDirty(): Unit =
    commits().lastOption.flatMap(_.dates).foreach { case (lo, hi) =>
      storeDmlDirty(dmlDirtyDates() ++ expandDates((lo, hi)))
    }

  /** Enqueue an explicit date set — the buffered layer's flush path: its
    * commit mixes plain inserts with DML-enrichment batches, so the
    * newest-commit range [[markDmlDirty]] reads would over-mark; the
    * layer records each DML batch's own touched dates instead. */
  private[sources] def markDmlDirtyDates(dates: Set[String]): Unit =
    if (dates.nonEmpty) storeDmlDirty(dmlDirtyDates() ++ dates)

  /** Background dedup sweep: write the resolved view (versions collapsed,
    * tombstoned identities dropped, re-sorted) as a new base version whose
    * marker records the cut-off. Readers racing the swap see the old
    * snapshot until the single atomic marker create, then the new one;
    * appends committed while the compaction ran stay visible (their
    * version exceeds the recorded cut-off). */
  def compact(): Unit = withWriteLock {
    val cs = commits()
    // Idempotence (reference e2e `zorder_idempotence.rs`: the second
    // OPTIMIZE must not churn files): a snapshot that IS exactly the
    // newest full base has nothing to rewrite — re-sorting already
    // z-ordered, already-resolved files would replace every file with an
    // identical-content copy, breaking vacuum retention and object-store
    // cache warmth for zero gain.
    if (cs.nonEmpty && compactBase(cs).isEmpty) {
      compactLocked(cs)
      // a FULL base consolidates every date — nothing queued remains dirty
      if (dmlDirtyDates().nonEmpty) storeDmlDirty(Set.empty)
    }
  }

  // z-order sort when the schema declares z_order_columns: compacted
  // files get tight min/max on EVERY participating column (reference
  // compaction / Delta OPTIMIZE ZORDER); otherwise the declared sort keys
  private def compactOrder: Seq[Column] =
    if (meta.zOrderColumns.nonEmpty)
      Seq(graft.functions.ZOrderKey(meta.zOrderColumns.map(col)))
    else sortCols

  private def compactLocked(cs: Seq[Commit]): Unit = {
    val upTo = cs.last.v
    val snapSchema = dirsSchema(visibleDirs(cs))
    // resolvedFrom, not a bare union: with partial bases in the snapshot,
    // a leg's subsumed dates must be excluded or the rewrite double-counts
    writePartitioned(versionDir(upTo + 1),
      resolvedFrom(cs, allTenants(visibleDirs(cs))), compactOrder)
    commit(upTo + 1, baseOf = Some(upTo),
      dates = writtenDateRange(versionDir(upTo + 1)))
    if (maintainCountIndex) {
      val newV = upTo + 1
      countMarker() match {
        // compaction never changes the logical count — carry the chain over
        case Some((v, c, s)) if v == upTo => writeCountMarker(newV, c, s)
        // broken chain: the compacted base IS the resolved view, so one
        // column-pruned pass over it (count + max stamp) RESTARTS the chain
        case _ =>
          val r = spark.read.schema(snapSchema).parquet(versionDir(newV))
            .transform(df => allTenants(Seq(versionDir(newV))).fold(df)(df.filter))
            .agg(count(lit(1)).as("c"),
              max(col(meta.dedupTiebreak)).as("s"))
            .head()
          val maxStamp = Option(r.getAs[java.time.LocalDateTime]("s"))
            .map(stampMicros).getOrElse(Long.MinValue)
          writeCountMarker(newV, r.getAs[Long]("c"), maxStamp)
      }
    }
  }

  /** PARTIAL (date-range) compaction — incremental maintenance, the piece
    * that makes compaction viable at fleet scale: rewrites only the
    * resolved content of dates in [lo, hi] (one marker, `_vN.pb.dr.lo.hi`)
    * while every other date keeps its existing layout. Cost follows the
    * FRAGMENTED dates (in production: the trailing ingest days — the
    * reference's "hot tail passes / date consolidation", W6,
    * `src/database.rs:5675+`), never the table size; [[compact]], by
    * contrast, is a full-table rewrite. Readers treat the partial base as
    * the newest content for its range via per-leg anti-range exclusions
    * ([[resolvedFrom]]), and the date-bounded window makes reads of the
    * compacted range windowless again. */
  def compactRange(lo: java.time.LocalDate,
      hi: java.time.LocalDate): Unit = withWriteLock {
    require(!hi.isBefore(lo), s"compactRange: $hi before $lo")
    val cs = commits()
    if (cs.isEmpty) return
    val v = cs.last.v + 1
    val scope = (inRange(lo, hi) +: allTenants(visibleDirs(cs)).toSeq).reduce(_ && _)
    writePartitioned(versionDir(v), resolvedFrom(cs, Some(scope)), compactOrder)
    commit(v, dates = Some((lo, hi)), pbase = true)
    if (maintainCountIndex) countMarker() match {
      // partial compaction never changes the logical count — carry over
      case Some((cv, c, s)) if cv == v - 1 => writeCountMarker(v, c, s)
      case _ => ()
    }
  }

  /** One maintenance sweep — the reference's dirty-bin queue + background
    * dedup sweep (W6, `src/dirty_bin_queue.rs`, `dedup_partition`
    * `src/database.rs:6737`): detect dates fragmented by at least
    * `minVersions` append versions since their governing base — from the
    * marker listing alone, no data IO — and partially compact the
    * contiguous date runs they form. Each run is one [[compactRange]]
    * (cost ∝ that run's data), so a steady stream of ingest/DML keeps the
    * trailing days consolidated while history is never rewritten. Returns
    * the compacted ranges (empty = nothing dirty, the idempotent no-op).
    *
    * `maxRanges` bounds the work per sweep — the reference's
    * consolidate-CATCHUP lesson (`tests/e2e/consolidate_catchup.rs`): a
    * sweep-everything job only helps if the process lives through it;
    * production restarts every 30–120 minutes, so a backlog of dirty days
    * (measured there: ~3,000 files on the newest sealed day the nightly
    * cron never reached) must drain in bounded slices that each COMMIT —
    * progress accrues across restarts instead of restarting from zero.
    * Runs are taken oldest-first (the backlog; the hot tail re-dirties
    * anyway), each run is its own committed partial base, and the
    * returned list says what this slice did. Every-run-anyway: even
    * unbounded sweeps commit per range, so a kill mid-sweep keeps the
    * finished ranges — `maxRanges` just caps the slice a single tick
    * attempts. */
  def maintenanceSweep(minVersions: Int = 2,
      maxRanges: Int = Int.MaxValue
  ): Seq[(java.time.LocalDate, java.time.LocalDate)] = {
    val snap = new Snapshot(commits())
    val queued = dmlDirtyDates()
    val uncovered = snap.vis.filter(c => !c.pbase && c.baseOf.isEmpty)
      .flatMap(snap.liveDates)
    // a DML-queued date is dirty at ANY append count: one DML version
    // already puts MOR resolution on every read of that date
    val dirty = uncovered
      .groupBy(identity)
      .filter { case (ds, vs) => vs.size >= minVersions || queued(ds) }
      .keys.toSeq.map(java.time.LocalDate.parse).sortBy(_.toEpochDay)
    // contiguous runs → one partial base each
    def runsOf(ds: Seq[java.time.LocalDate]) = ds.foldLeft(
      List.empty[DateRange]) {
      case ((lo, hi) :: tail, d) if d == hi.plusDays(1) => (lo, d) :: tail
      case (acc, d) => (d, d) :: acc
    }.reverse
    // DML-queued runs FIRST (targeted re-sort of buckets a reader is
    // paying for right now), then the ordinary oldest-first backlog
    val (dmlRuns, backlog) = runsOf(dirty)
      .partition { case (lo, hi) =>
        expandDates((lo, hi)).exists(queued)
      }
    val slice = (dmlRuns ++ backlog).take(maxRanges)
    slice.foreach { case (lo, hi) => compactRange(lo, hi) }
    // Drain the queue entries this slice consolidated — AND any queued
    // date no longer uncovered at all (a full compact or another partial
    // base already folded its DML; a post-pbase DML would have left an
    // uncovered version, so absence from `uncovered` means fully served).
    // Without the second clause a stale entry persists in _dml_dirty.json
    // forever and permanently promotes any future run containing its date
    // ahead of the oldest-first backlog.
    if (queued.nonEmpty) {
      val done = slice.flatMap(expandDates).toSet
      val uncoveredSet = uncovered.toSet
      val remaining = (queued -- done).filter(uncoveredSet)
      if (remaining != queued) storeDmlDirty(remaining)
    }
    slice
  }

  /** Remove version directories subsumed by the newest compaction base.
    * Separate from [[compact]] so snapshots read before the swap stay
    * scannable until the operator chooses to reclaim them. */
  /** `retainMs`: keep subsumed versions committed within the last
    * `retainMs` milliseconds (the reference's `VACUUM … RETAIN n HOURS`,
    * Delta's retention contract) — an in-flight reader planned against the
    * pre-compaction snapshot keeps its files until the window passes.
    * Commit times come from marker mtimes, the same clock [[versionAsOf]]
    * reads. */
  def vacuum(retainMs: Long = 0L): Unit = withWriteLock {
    val cs = commits()
    val cutoff = System.currentTimeMillis() - retainMs
    cs.filter(_.baseOf.isDefined).lastOption.foreach { base =>
      cs.filter(c => c.v <= base.baseOf.get ||
          (c.baseOf.isDefined && c.v < base.v)).foreach { c =>
        val marker = new Path(commitsDir,
          markerName(c.v, c.baseOf, c.dates, c.pbase))
        val old = retainMs <= 0L ||
          (try fs.getFileStatus(marker).getModificationTime <= cutoff
          catch { case _: java.io.FileNotFoundException => true })
        if (old) {
          fs.delete(new Path(versionDir(c.v)), true)
          fs.delete(marker, false)
        }
      }
    }
  }
}
