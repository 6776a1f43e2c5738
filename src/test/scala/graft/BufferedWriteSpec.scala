package graft

import java.nio.file.Files

import org.apache.spark.SparkException
import org.apache.spark.sql.TestPins
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.TableSchemas
import graft.sources.{BufferedWriteLayer, GraftTable}

/** The MemBuffer tier (S4/W2): immediate read visibility of buffered
  * INSERTs, keep-greatest resolution against storage, and the flush
  * invariant — the resolved view is identical before and after flush.
  */
class BufferedWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(): GraftTable = {
    val dir = Files.createTempDirectory("graft_buf_").toString
    new GraftTable(spark, dir, TableSchemas.morVersioned)
  }

  private def rows(ids: Seq[Int], name: String) = {
    import spark.implicits._
    ids.toDF("n").select(
      (col("n") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, n, 0)")).as("timestamp"),
      concat(lit("row-"), col("n")).as("id"),
      lit(name).as("name"))
  }

  private def t(m: Int) = Some(java.time.LocalDateTime.of(2024, 3, 2, 0, m))

  test("buffered inserts are readable before any commit; flush preserves the view") {
    val tbl = freshTable()
    tbl.append(rows(0 until 50, "stored"), t(0))
    val buf = new BufferedWriteLayer(tbl)

    buf.insert(rows(50 until 60, "buffered"), t(1))
    assert(tbl.currentVersion() == 1, "insert must not commit a version")
    assert(buf.readResolved().count() == 60, "buffered rows visible at once")
    assert(tbl.readResolved().count() == 50, "storage readers see storage only")

    // a buffered UPDATE of a stored identity wins by stamp
    buf.insert(rows(Seq(7), "updated"), t(2))
    val r7 = buf.readResolved().filter(col("id") === "row-7").collect()
    assert(r7.length == 1 && r7(0).getAs[String]("name") == "updated")

    // flush: view unchanged, rows durable, buffer empty
    val before = buf.readResolved().collect().toSet
    buf.flush()
    assert(buf.bufferedRows == 0L)
    assert(tbl.currentVersion() == 2, "flush commits ONE version for all batches")
    assert(tbl.readResolved().collect().toSet == before,
      "flush must not change the resolved view")
    // per-batch stamps survived the flush: the update still wins
    val r7b = tbl.readResolved().filter(col("id") === "row-7").collect()
    assert(r7b.length == 1 && r7b(0).getAs[String]("name") == "updated")
  }

  test("durable buffer recovers a killed session's unflushed rows (W1 WAL)") {
    val tbl = freshTable()
    tbl.append(rows(0 until 50, "stored"), t(0))
    val buf = new BufferedWriteLayer(tbl, durable = true)
    buf.insert(rows(50 until 60, "buffered"), t(1))
    buf.insert(rows(Seq(7), "updated"), t(2))
    val before = buf.readResolved().collect().toSet
    // "kill" the session between insert and flush: the layer object is
    // simply abandoned — a memory-only buffer demonstrably loses these
    // rows (nothing was committed); the durable one must not
    assert(tbl.currentVersion() == 1, "nothing flushed before the crash")
    assert(tbl.readResolved().count() == 50)
    buf.simulateCrash() // process death releases the flock-like ownership

    val recovered = new BufferedWriteLayer(tbl, durable = true)
    assert(recovered.bufferedRows == 11, "WAL replay adopts both batches")
    assert(recovered.readResolved().collect().toSet == before,
      "recovered view identical, original stamps intact")
    val r7 = recovered.readResolved().filter(col("id") === "row-7").collect()
    assert(r7.length == 1 && r7(0).getAs[String]("name") == "updated")

    // flush truncates the WAL: a third layer adopts nothing
    recovered.flush()
    assert(tbl.currentVersion() == 2)
    assert(tbl.readResolved().collect().toSet == before)
    recovered.close()
    val fresh = new BufferedWriteLayer(tbl, durable = true)
    assert(fresh.bufferedRows == 0L, "flushed WAL must be truncated")
  }

  test("durable frames handed out before flush survive WAL truncation") {
    val tbl = freshTable()
    tbl.append(rows(0 until 10, "stored"), t(0))
    val buf = new BufferedWriteLayer(tbl, durable = true)
    buf.insert(rows(10 until 15, "buffered"), t(1))
    val v = buf.readResolved()
    val before = v.collect().toSet
    buf.flush() // truncates the WAL records that fed the buffered legs
    assert(v.collect().toSet == before,
      "a pre-flush resolved frame must not die with the WAL files")
  }

  test("non-durable frames handed out before flush survive it") {
    val tbl = freshTable()
    tbl.append(rows(0 until 10, "stored"), t(0))
    val buf = new BufferedWriteLayer(tbl)
    buf.insert(rows(10 until 15, "buffered"), t(1))
    val v = buf.readResolved()
    val before = v.collect().toSet
    buf.flush() // the buffer lets go of its pinned batch
    buf.insert(rows(15 until 20, "later"), t(2))
    buf.flush()
    assert(v.collect().toSet == before,
      "a pre-flush resolved frame must keep reading its pinned batch")
  }

  test("a WAL record without its commit marker is discarded at recovery") {
    val tbl = freshTable()
    tbl.append(rows(0 until 10, "stored"), t(0))
    val buf = new BufferedWriteLayer(tbl, durable = true)
    buf.insert(rows(10 until 15, "ok"), t(1))
    // fake a mid-write crash: strip _SUCCESS from a second spill
    val walRoot = new org.apache.hadoop.fs.Path(
      s"${tbl.root}/${tbl.meta.name}/_wal")
    val fs = walRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    buf.insert(rows(15 until 20, "torn"), t(2))
    val torn = fs.listStatus(walRoot).filter(_.isDirectory)
      .map(_.getPath).sortBy(_.getName).last
    fs.delete(new org.apache.hadoop.fs.Path(torn, "_SUCCESS"), false)
    buf.simulateCrash()

    val recovered = new BufferedWriteLayer(tbl, durable = true)
    assert(recovered.bufferedRows == 5, "only the committed record replays")
    assert(recovered.readResolved().filter(col("name") === "torn").count() == 0)
    assert(recovered.readResolved().count() == 15)
    assert(!fs.exists(torn), "the torn record is swept at recovery")
  }

  test("re-flush after a crash between commit and truncate converges (idempotent)") {
    val tbl = freshTable()
    tbl.append(rows(0 until 20, "stored"), t(0))
    val buf = new BufferedWriteLayer(tbl, durable = true)
    buf.insert(rows(Seq(3), "updated"), t(1))
    val want = buf.readResolved().collect().toSet
    // reproduce the crash window — version committed, WAL record still
    // present: back the record up, flush (commit + truncate), restore
    val walDir = fsList(tbl).head
    val fs = walDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(
      walDir.getParent.getParent, walDir.getName + ".bak")
    org.apache.hadoop.fs.FileUtil.copy(fs, walDir, fs, bak, false,
      spark.sparkContext.hadoopConfiguration)
    buf.flush()
    assert(tbl.readResolved().collect().toSet == want)
    fs.rename(bak, walDir)
    buf.simulateCrash()
    // recovery re-adopts the already-committed batch; re-flush collapses
    // to the same view (identical identity+stamp rows dedup to one)
    val recovered = new BufferedWriteLayer(tbl, durable = true)
    assert(recovered.bufferedRows == 1)
    recovered.flush()
    assert(tbl.readResolved().collect().toSet == want,
      "at-least-once replay must converge through the dedup window")
  }

  private def fsList(tbl: GraftTable): Seq[org.apache.hadoop.fs.Path] = {
    val walRoot = new org.apache.hadoop.fs.Path(
      s"${tbl.root}/${tbl.meta.name}/_wal")
    val fs = walRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(walRoot).filter(_.isDirectory)
      .map(_.getPath).sortBy(_.getName).toSeq
  }

  test("a second live durable layer over the same table fails fast") {
    val tbl = freshTable()
    tbl.append(rows(0 until 10, "stored"), t(0))
    val owner = new BufferedWriteLayer(tbl, durable = true)
    owner.insert(rows(10 until 15, "buffered"), t(1))
    // double-open while the owner is live: loud failure, no double-adopt
    val e = intercept[IllegalStateException] {
      new BufferedWriteLayer(tbl, durable = true)
    }
    assert(e.getMessage.contains("already owned"))
    assert(owner.bufferedRows == 5, "the failed open must not disturb the owner")
    // clean handoff: close() releases ownership, a successor opens clean
    owner.close()
    val next = new BufferedWriteLayer(tbl, durable = true)
    assert(next.bufferedRows == 0L, "close() flushed, so nothing re-adopts")
    assert(tbl.readResolved().count() == 15)
    next.close()
  }

  test("the on-disk flock blocks a holder OUTSIDE the in-process registry") {
    // models a live layer in ANOTHER JVM: the in-process owner registry is
    // empty, so only the FileChannel lock on _wal/_lock stands between two
    // durable layers double-adopting the same committed batches
    val tbl = freshTable()
    tbl.append(rows(0 until 5, "stored"), t(0))
    val walRoot = new org.apache.hadoop.fs.Path(
      s"${tbl.root}/${tbl.meta.name}/_wal")
    val fs = walRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(walRoot)
    val lockFile = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(walRoot, "_lock").toUri.getPath)
    import java.nio.file.StandardOpenOption._
    val foreign = java.nio.channels.FileChannel.open(lockFile, CREATE, WRITE)
    val held = foreign.tryLock()
    assert(held != null)
    try {
      val e = intercept[IllegalStateException] {
        new BufferedWriteLayer(tbl, durable = true)
      }
      assert(e.getMessage.contains("flock-held"))
    } finally foreign.close() // OS-release, as on process death
    // with the foreign holder gone, the open succeeds without operator action
    val succ = new BufferedWriteLayer(tbl, durable = true)
    assert(succ.bufferedRows == 0L)
    succ.close()
  }

  test("close() keeps the local _lock file (flock released, never unlinked)") {
    // unlinking on close opens a double-adoption window: a successor can
    // flock the old unlinked inode while another process creates and locks
    // a fresh _lock at the same path — two simultaneous holders. flock
    // semantics never require unlink; successors lock the SAME file.
    val tbl = freshTable()
    tbl.append(rows(0 until 5, "stored"), t(0))
    val owner = new BufferedWriteLayer(tbl, durable = true)
    owner.close()
    val lockFile = new java.io.File(new org.apache.hadoop.fs.Path(
      s"${tbl.root}/${tbl.meta.name}/_wal/_lock").toUri.getPath)
    assert(lockFile.exists, "close() must not unlink the flock file")
    // the persistent file is inert: a successor locks it and serves
    val succ = new BufferedWriteLayer(tbl, durable = true)
    assert(succ.bufferedRows == 0L)
    succ.close()
  }

  test("WAL recovery honors maxBufferedRows (auto-flush after replay)") {
    val tbl = freshTable()
    // predecessor with a LARGER cap crashes holding 12 buffered rows
    val big = new BufferedWriteLayer(tbl, maxBufferedRows = 100,
      durable = true)
    big.insert(rows(0 until 12, "buffered"), t(0))
    big.simulateCrash()
    // successor with a smaller cap: replay reconstructs 12 ≥ 5, so the
    // same auto-flush trigger insert uses must fire at construction —
    // the documented bound holds from the first moment the layer serves
    val small = new BufferedWriteLayer(tbl, maxBufferedRows = 5,
      durable = true)
    assert(small.bufferedRows == 0L, "over-limit recovered buffer must flush")
    assert(tbl.currentVersion() == 1, "recovery flush committed one version")
    assert(small.readResolved().count() == 12)
    small.close()
  }

  test("auto-flush at maxBufferedRows bounds the buffer") {
    val tbl = freshTable()
    val buf = new BufferedWriteLayer(tbl, maxBufferedRows = 15)
    buf.insert(rows(0 until 10, "a"), t(0))
    assert(tbl.currentVersion() == 0 && buf.bufferedRows == 10)
    buf.insert(rows(10 until 20, "b"), t(1)) // crosses the bound
    assert(tbl.currentVersion() == 1, "crossing the bound must flush")
    assert(buf.bufferedRows == 0L)
    assert(buf.readResolved().count() == 20)
  }

  test("hash-enrichment flow: UPDATE...FROM reaches rows still in the " +
      "MemBuffer and rows already flushed, queried by && overlap") {
    // the reference's tests/e2e/hash_enrichment.rs shape: spans INSERT
    // with empty hashes and are enriched moments later via
    // UPDATE ... FROM (unnest) SET hashes = coalesce(hashes,{}) || tag,
    // both BEFORE the row ever flushes and after it lands in storage
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_enrich_").toString
    val tbl = new GraftTable(spark, dir, TableSchemas.otelLogsAndSpans)
    val buf = new BufferedWriteLayer(tbl)
    def spans(ids: Seq[Int]) = ids.toDF("n").select(
      lit("p0").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, n, 0)")).as("timestamp"),
      concat(lit("span-"), col("n")).as("id"),
      lit("span").as("name"),
      array().cast("array<string>").as("hashes"),
      concat(lit("trace-"), col("n") % 4).as("context___trace_id"))
    def enrichment(ids: Seq[Int], tag: String) = ids.toDF("n")
      .select(concat(lit("span-"), col("n")).as("src_id"),
        lit(tag).as("tag"))

    buf.insert(spans(0 until 8), t(0))
    assert(tbl.currentVersion() == 0, "rows must still be in the buffer")
    // enrich WHILE BUFFERED: table-level updateFrom would miss these rows
    buf.updateFrom(enrichment(0 until 4, "errhash"),
      col("t.id") === col("s.src_id"),
      Map("hashes" ->
        concat(coalesce(col("t.hashes"), array().cast("array<string>")),
          array(col("s.tag")))), t(1))
    val hit = buf.readResolved()
      .filter(arrays_overlap(col("hashes"), array(lit("errhash"))))
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(hit == (0 until 4).map(i => s"span-$i"),
      s"buffered enrichment must be visible immediately: $hit")
    assert(buf.readResolved().count() == 8, "no duplicate identities")

    // flush, then enrich AGAIN post-flush — appends a second tag to the
    // stored versions (coalesce-append, not overwrite)
    buf.flush()
    buf.updateFrom(enrichment(2 until 6, "slowhash"),
      col("t.id") === col("s.src_id"),
      Map("hashes" ->
        concat(coalesce(col("t.hashes"), array().cast("array<string>")),
          array(col("s.tag")))), t(2))
    val both = buf.readResolved()
      .filter(arrays_overlap(col("hashes"), array(lit("errhash"))) &&
        arrays_overlap(col("hashes"), array(lit("slowhash"))))
      .select("id").collect().map(_.getString(0)).sorted.toSeq
    assert(both == Seq("span-2", "span-3"),
      s"stacked enrichment (err+slow) wrong: $both")
    val slowOnly = buf.readResolved()
      .filter(arrays_overlap(col("hashes"), array(lit("slowhash"))))
      .count()
    assert(slowOnly == 4, "post-flush enrichment must reach stored rows")
    // the view is stable across the final flush too
    val before = buf.readResolved().select("id", "hashes").collect()
      .map(r => (r.getString(0), r.getSeq[String](1))).toSet
    buf.flush()
    val after = tbl.readResolved().select("id", "hashes").collect()
      .map(r => (r.getString(0), r.getSeq[String](1))).toSet
    assert(after == before, "flush must not change the enriched view")
    // buffered DML reaches the dirty-bin queue at flush, exactly like the
    // direct GraftTable DML paths — enrichment through the buffer must
    // not silently miss priority compaction
    assert(tbl.dmlDirtyDates().contains("2024-03-01"),
      s"flushed buffered DML must enqueue its touched dates, " +
        s"queue=${tbl.dmlDirtyDates()}")
  }

  test("a durable DML batch recovered from the WAL keeps its touched " +
      "dates: the crash-then-flush path still reaches the dirty-bin queue") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_enrich_wal_").toString
    val tbl = new GraftTable(spark, dir, TableSchemas.otelLogsAndSpans)
    val buf = new BufferedWriteLayer(tbl, durable = true)
    def spans(ids: Seq[Int]) = ids.toDF("n").select(
      lit("p0").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, 0, n, 0)")).as("timestamp"),
      concat(lit("span-"), col("n")).as("id"),
      lit("span").as("name"),
      array().cast("array<string>").as("hashes"),
      concat(lit("trace-"), col("n") % 4).as("context___trace_id"))
    buf.insert(spans(0 until 6), t(0))
    buf.flush()
    assert(tbl.dmlDirtyDates().isEmpty, "plain inserts queue nothing")
    // DML through the buffer, then a crash BEFORE any flush: the batch
    // is durable, and since r13 its touched dates are too (the sidecar
    // is written before the batch itself)
    buf.updateFrom(
      (0 until 3).toDF("n").select(
        concat(lit("span-"), col("n")).as("src_id"), lit("tag").as("tag")),
      col("t.id") === col("s.src_id"),
      Map("hashes" ->
        concat(coalesce(col("t.hashes"), array().cast("array<string>")),
          array(col("s.tag")))), t(1))
    buf.simulateCrash()
    val recovered = new BufferedWriteLayer(tbl, durable = true)
    assert(recovered.bufferedRows == 3, "WAL replay adopts the DML batch")
    assert(tbl.dmlDirtyDates().isEmpty, "recovery alone must not enqueue")
    recovered.flush()
    assert(tbl.dmlDirtyDates().contains("2024-03-01"),
      "a recovered-then-flushed DML batch must enqueue its touched " +
        s"dates, queue=${tbl.dmlDirtyDates()}")
    recovered.close()
    // and the sidecar died with its batch: a third layer adopts nothing
    val fresh = new BufferedWriteLayer(tbl, durable = true)
    assert(fresh.bufferedRows == 0L)
    fresh.close()
  }

  /** Run `body` with the session's file split size set to `bytes`. */
  private def withSplitBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def walFiles(dir: org.apache.hadoop.fs.Path): Int =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))

  test("a small insert is one partition and one pin job: a durable one " +
      "writes one WAL file in one more job") {
    val batch = rows(0 until 512, "buffered")
    assert(batch.rdd.getNumPartitions > 1, "the batch arrives spread out")
    val tbl = freshTable()
    val buf = new BufferedWriteLayer(tbl, durable = true)
    // one task per job: one partition written, one pinned
    val (_, durable) = SparkWork.of(spark)(buf.insert(batch, t(1)))
    assert(durable.jobs == 2 && durable.tasks == 2, s"durable insert ran $durable")
    assert(fsList(tbl).map(walFiles) == Seq(1), "one WAL file per batch")
    assert(buf.bufferedRows == 512)
    buf.close()

    val mem = new BufferedWriteLayer(freshTable())
    val (_, inMemory) = SparkWork.of(spark)(mem.insert(batch, t(1)))
    assert(inMemory.jobs == 1 && inMemory.tasks == 1,
      s"non-durable insert ran $inMemory")
    assert(mem.bufferedRows == 512)
  }

  test("a batch larger than one file split keeps more than one partition") {
    withSplitBytes(1024) {
      val batch = rows(0 until 512, "big")
      val mem = new BufferedWriteLayer(freshTable())
      val (_, work) = SparkWork.of(spark)(mem.insert(batch, t(1)))
      assert(work.jobs == 1 && work.tasks > 1, s"pinned in one partition: $work")
      assert(mem.bufferedRows == 512)
      val tbl = freshTable()
      val buf = new BufferedWriteLayer(tbl, durable = true)
      buf.insert(batch, t(1))
      assert(fsList(tbl).map(walFiles).head > 1, "WAL written in one file")
      assert(buf.bufferedRows == 512)
      assert(buf.readResolved().count() == 512)
      buf.close()
    }
  }

  test("buffered updateFrom pins its batch and reads its dates in the same " +
      "job, with no separate date job") {
    val tbl = freshTable()
    val buf = new BufferedWriteLayer(tbl)
    // 2024-03-01 and 2024-03-02, minutes apart around midnight
    val spread = rows(0 until 40, "buffered")
      .withColumn("timestamp", col("timestamp") + expr("interval 23 hours 40 minutes"))
    buf.insert(spread, t(0))
    import spark.implicits._
    val src = Seq("row-1", "row-30", "row-999").toDF("sid")
    val (_, work) = SparkWork.of(spark)(buf.updateFrom(src,
      col("t.id") === col("s.sid"), Map("name" -> lit("enriched")), t(1)))
    assert(work.actions == Seq("localCheckpoint", "overwrite"),
      s"updateFrom ran ${work.actions}")
    assert(buf.bufferedRows == 42)
    val batchDates = buf.readResolved().filter(col("name") === "enriched")
      .select(col("date").cast("string")).collect().map(_.getString(0)).toSet
    assert(batchDates == Set("2024-03-01", "2024-03-02"))
    buf.flush()
    assert(tbl.dmlDirtyDates() == batchDates,
      s"queued ${tbl.dmlDirtyDates()}, the batch holds $batchDates")
  }

  test("bufferedRows stays exact across inserts, enrichment and recovery") {
    import spark.implicits._
    val tbl = freshTable()
    val buf = new BufferedWriteLayer(tbl, durable = true)
    buf.insert(rows(0 until 30, "a"), t(0))
    assert(buf.bufferedRows == 30)
    buf.insert(rows(20 until 45, "b"), t(1)) // 10 re-sent identities
    assert(buf.bufferedRows == 55, "re-sent rows are buffered rows too")
    buf.insert(rows(Nil, "empty"), t(2))
    assert(buf.bufferedRows == 55)
    def enrich(ids: Seq[String], m: Int) = buf.updateFrom(ids.toDF("sid"),
      col("t.id") === col("s.sid"), Map("name" -> lit(s"e$m")), t(m))
    enrich(Seq("row-3", "row-25", "row-44"), 3)
    assert(buf.bufferedRows == 58)
    enrich(Seq("row-999"), 4) // matches nothing
    assert(buf.bufferedRows == 58)
    buf.simulateCrash()
    val recovered = new BufferedWriteLayer(tbl, durable = true)
    assert(recovered.bufferedRows == 58, "WAL replay counts every batch")
    assert(recovered.readResolved().count() == 45)
    recovered.flush()
    assert(recovered.bufferedRows == 0L)
    recovered.close()
  }

  test("over a partial base the buffered view reads no more files than " +
      "the table view, and equals it after flush") {
    val tbl = freshTable()
    // 96 hourly rows: three tenants over 2024-03-01..04
    val hourly = spark.range(96).select(
      (col("id") % 3).cast("string").as("project_id"),
      (lit("2024-03-01 00:00:00").cast("timestamp_ntz")
        + expr("make_interval(0, 0, 0, 0, id, 0, 0)")).as("timestamp"),
      concat(lit("row-"), col("id")).as("id"),
      lit("stored").as("name"))
    tbl.append(hourly, t(0))
    tbl.compact()
    // fragment days two..four, then let maintenance fold them into a
    // partial base: every older leg now excludes those dates
    val later = col("timestamp") >=
      lit("2024-03-02 00:00:00").cast("timestamp_ntz")
    tbl.update(later, Map("name" -> lit("u1")), t(1))
    tbl.update(later, Map("name" -> lit("u2")), t(2))
    assert(tbl.maintenanceSweep(minVersions = 2).nonEmpty)

    val buf = new BufferedWriteLayer(tbl)
    // new versions of a day-one and a partial-base-covered identity,
    // plus one new identity
    buf.insert(hourly.filter(col("id").isin("row-7", "row-50"))
      .withColumn("name", lit("buffered"))
      .unionByName(rows(Seq(500), "buffered")), t(3))
    val bufView = buf.readResolved()
    val bufFiles = bufView.inputFiles.length
    val tableFiles = tbl.readResolved().inputFiles.length
    assert(bufFiles <= tableFiles, s"buffered view reads $bufFiles files, " +
      s"the table view of the same snapshot $tableFiles")
    val before = bufView.collect().toSet
    assert(before.size == 97)
    assert(bufView.filter(col("name") === "buffered").count() == 3)
    buf.flush()
    assert(tbl.readResolved().collect().toSet == before,
      "flush must not change the resolved view")
  }

  test("a tenant-filtered read of a buffered batch reads at most half the " +
      "bytes of the same rows pinned as whole rows") {
    val dir = Files.createTempDirectory("graft_buf_cost_").toString
    val tbl = new GraftTable(spark, dir, TableSchemas.otelLogsAndSpans)
    val buf = new BufferedWriteLayer(tbl)
    buf.insert(OtelBatch(spark), t(1))
    val view = buf.readResolved() // empty table: every byte read is the pin
    val tenant = col("project_id") === "tenant-01"
    val (n, pinned) = SparkWork.of(spark)(view.filter(tenant).count())
    // the form a `localCheckpoint` pin stores: deserialized whole rows
    val rowForm = view.localCheckpoint()
    val (m, whole) = SparkWork.of(spark)(rowForm.filter(tenant).count())
    assert(n == 128 && m == n)
    assert(pinned.inputBytes > 0 && pinned.inputBytes * 2 <= whole.inputBytes,
      s"the buffered read took ${pinned.inputBytes} B, the row form " +
        s"${whole.inputBytes} B")
  }

  test("pinning never registers a plan in the session's cache manager") {
    spark.catalog.clearCache() // start from an empty registry
    val tbl = freshTable()
    val buf = new BufferedWriteLayer(tbl, durable = true)
    buf.insert(rows(0 until 20, "a"), t(0))
    buf.insert(rows(10 until 30, "b"), t(1))
    import spark.implicits._
    buf.updateFrom(Seq("row-3").toDF("sid"), col("t.id") === col("s.sid"),
      Map("name" -> lit("enriched")), t(2))
    assert(buf.readResolved().count() == 30)
    buf.flush()
    assert(TestPins.cacheManagerIsEmpty(spark),
      "a buffered batch must not live in the cache manager's registry")
    buf.close()
  }

  test("a non-durable pin keeps its column buffers and none of the " +
      "caller's plan") {
    val buf = new BufferedWriteLayer(freshTable())
    buf.insert(rows(0 until 20, "local"), t(0)) // a local relation's rows
    val pins = TestPins.pins(buf.readResolved())
    assert(pins.size == 1)
    val (plan, blocks) = pins.head
    assert(plan.find(_.isInstanceOf[LocalTableScanExec]).isEmpty,
      s"the pinned batch keeps the caller's plan:\n$plan")
    assert(blocks.isCheckpointed,
      "the buffers' lineage to the caller's plan must be cut")
    assert(buf.readResolved().count() == 20)
  }

  test("a lost pinned block fails the read instead of recomputing the " +
      "caller's plan") {
    val buf = new BufferedWriteLayer(freshTable())
    buf.insert(rows(0 until 20, "local"), t(0))
    val pins = TestPins.pins(buf.readResolved())
    assert(pins.size == 1)
    pins.head._2.unpersist(blocking = true)
    val e = intercept[SparkException](buf.readResolved().count())
    assert(e.getMessage.contains("not found"), e.getMessage)
  }

  test("variant payloads read back identical buffered, replayed from the " +
      "WAL and flushed") {
    val dir = Files.createTempDirectory("graft_buf_variant_").toString
    val tbl = new GraftTable(spark, dir, TableSchemas.otelLogsAndSpans)
    val batch = OtelBatch(spark, 64).withColumn("n", pmod(hash(col("id")), lit(1000)))
      .select(col("*"),
        parse_json(format_string(
          """[{"name":"exception","attributes":{"code":%d}}]""", col("n")))
          .as("events"),
        parse_json(format_string(
          """{"http":{"status":%d,"route":"/v1/%s"},"ok":%b}""",
          col("n") % 5 + 200, col("name"), col("n") % 2 === 0))
          .as("attributes"))
      .drop("n")
    def payloads(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), to_json(col("events")), to_json(col("attributes")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
    val want = payloads(batch)
    assert(want.size == 64 && want.forall(p => p._2 != null && p._3 != null))

    val buf = new BufferedWriteLayer(tbl, durable = true)
    buf.insert(batch, t(1))
    assert(payloads(buf.readResolved()) == want, "buffered")
    buf.simulateCrash()
    val recovered = new BufferedWriteLayer(tbl, durable = true)
    assert(recovered.bufferedRows == 64)
    assert(payloads(recovered.readResolved()) == want, "replayed from the WAL")
    recovered.flush()
    assert(payloads(tbl.readResolved()) == want, "flushed")
    // the files' schema is the table's: no planner-only field metadata
    // (a variant column's extraction context) leaks into their footers
    val written = spark.read.parquet(s"$dir/${tbl.meta.name}/v00001").schema
    assert(written.forall(_.metadata == org.apache.spark.sql.types.Metadata.empty),
      s"flushed schema ${written.json}")
    recovered.close()
  }
}
