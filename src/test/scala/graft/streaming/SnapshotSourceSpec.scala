package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable
import graft.streaming.DocStream.Doc

/** Drills for the snapshot STREAMING SOURCE — generations as offsets:
  * incremental tailing (each micro-batch reads only the manifest
  * diff), exactly-once across a stop/commit/restart, the
  * rewrite-hop contract (throw by default, content-neutral skip under
  * the opt-in), and the closed lakehouse loop where the transactional
  * sink feeds the source through the table.
  */
class SnapshotSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docsDf(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => Doc(i, s"text $i")).toDF()
  }

  private def tail(table: String, ckpt: String, name: String,
      skipRewrites: Boolean = false) = {
    val r = spark.readStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table)
    (if (skipRewrites) r.option("skipRewrites", "true") else r)
      .load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .start()
  }

  private def seen(name: String): Set[Long] = {
    import spark.implicits._
    spark.table(name).select("doc_id").as[Long].collect().toSet
  }

  test("tails appends incrementally and resumes exactly-once from the checkpoint") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapsource").toString
    val (table, ckpt) = (s"$root/table", s"$root/ckpt")
    SnapshotTable.commit(docsDf(1L, 2L), table, 1L)

    // The memory sink cannot recover from a checkpoint, so the tail
    // lands in a recovery-capable foreachBatch collector.
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect().foreach(got.add)
      }
      .start()

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(got.toArray(Array.empty[java.lang.Long]).map(Long.unbox).toSet === Set(1L, 2L))

      // An append while the query runs: the next micro-batch plans the
      // manifest DIFF only — the carried-forward gen-1 files never
      // re-enter a scan, so no duplicates can arise.
      SnapshotTable.commit(docsDf(3L), table, 2L, carryFrom = Some(1L))
      q1.processAllAvailable()
      assert(got.size === 3, "exactly one row per committed document")
    } finally q1.stop()

    // Data lands while the consumer is DOWN; the restarted query reads
    // its offset from the checkpoint and consumes ONLY the new hop.
    SnapshotTable.commit(docsDf(4L, 5L), table, 3L, carryFrom = Some(2L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val all = got.toArray(Array.empty[java.lang.Long]).map(Long.unbox)
      assert(all.toSet === Set(1L, 2L, 3L, 4L, 5L))
      assert(all.length === 5,
        "a restart must not replay generations the checkpoint already consumed")
    } finally q2.stop()
  }

  test("WAP: a tailing consumer sees nothing while staged, exactly the batch on publish") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("snapwap").toString
    val (table, ckpt) = (s"$root/table", s"$root/ckpt")
    SnapshotTable.commit(docsDf(1L, 2L), table, 1L)
    val q = tail(table, ckpt, "wap_tail")
    try {
      q.processAllAvailable()
      assert(seen("wap_tail") === Set(1L, 2L))
      // Stage a batch for audit: the lineage has not moved, so the
      // tailing consumer must see NOTHING new — the whole point of WAP
      // is that unaudited data is invisible downstream.
      SnapshotTable.stage(docsDf(3L, 4L), table, "audit")
      q.processAllAvailable()
      assert(seen("wap_tail") === Set(1L, 2L),
        "staged-but-unpublished data must not reach a consumer")
      // Publish after a green audit: the next micro-batch is exactly
      // the published batch (the fast-forwarded files ARE the hop's
      // added files).
      SnapshotTable.publishStaged(spark, table, "audit", gen = 2L,
        carryFrom = Some(1L))
      q.processAllAvailable()
      assert(seen("wap_tail") === Set(1L, 2L, 3L, 4L))
      // An abandoned branch never surfaces.
      SnapshotTable.stage(docsDf(99L), table, "red")
      SnapshotTable.abandonStaged(spark, table, "red")
      q.processAllAvailable()
      assert(seen("wap_tail") === Set(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("rewrite hops throw by default and skip as content-neutral under the opt-in") {
    val root = Files.createTempDirectory("snapsource_rw").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L, 2L, 3L), table, 1L)
    SnapshotTable.compact(spark, table, 1L, 1)

    // Default: a non-append hop is an error, not silent data loss — a
    // MERGE looks identical at the file level.
    val q1 = tail(table, s"$root/ckpt1", "snap_rw1")
    val ex = intercept[StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    assert(ex.getMessage.contains("skipRewrites")
      || Option(ex.getCause).exists(_.getMessage.contains("skipRewrites")))

    // Opt-in: the rewrite hop contributes nothing (its added-minus-
    // removed net is zero), and the stream keeps tailing afterwards.
    val q2 = tail(table, s"$root/ckpt2", "snap_rw2", skipRewrites = true)
    try {
      q2.processAllAvailable()
      assert(seen("snap_rw2") === Set(1L, 2L, 3L),
        "gen 1 content once; the compaction hop adds nothing")
      SnapshotTable.commit(docsDf(9L), table, 3L, carryFrom = Some(2L))
      q2.processAllAvailable()
      assert(seen("snap_rw2") === Set(1L, 2L, 3L, 9L))
    } finally q2.stop()
  }

  test("batch read time-travels by generation and prunes columns into the decoder") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapbatch").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L, 2L), table, 1L)
    SnapshotTable.commit(docsDf(3L), table, 2L, carryFrom = Some(1L))

    def read(gen: Long) = spark.read
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).option("generation", gen).load()

    assert(read(1L).select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(read(2L).count() === 3L)

    // Catalyst's column pruning must reach the connector's scan: the
    // physical read schema of a single-column projection carries only
    // that column, so the reader never materializes the rest.
    val pruned = read(2L).select("text")
    val scans = pruned.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema()
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSeq === Seq("text"))
    assert(pruned.as[String].collect().toSet === Set("text 1", "text 2", "text 3"))
  }

  test("maxGensPerBatch backfills a deep history in bounded micro-batches") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapadmit").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L), table, 1L)
    SnapshotTable.commit(docsDf(2L), table, 2L, carryFrom = Some(1L))
    SnapshotTable.commit(docsDf(3L), table, 3L, carryFrom = Some(2L))

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).option("maxGensPerBatch", "1").load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.add(b.count()); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    // Three generations, capped at one hop per micro-batch: three
    // non-empty batches of one row each, nothing duplicated or lost.
    val sizes = batches.toArray(Array.empty[java.lang.Long]).map(Long.unbox).toSeq
    assert(sizes.filter(_ > 0) === Seq(1L, 1L, 1L))
  }

  test("merge-on-read delete hops throw like rewrites") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapmordel").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L, 2L, 3L), table, 1L)
    SnapshotTable.commitDeletes(Seq(2L).toDF("doc_id"), table, 2L, carryFrom = 1L)

    val q = tail(table, s"$root/ckpt", "snap_mor")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    def msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("|")
    assert(msgs.contains("tombstone"))
  }

  test("retention that outruns the consumer fails loudly; initial loads still work") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapretain").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L), table, 1L)
    SnapshotTable.commit(docsDf(2L), table, 2L, carryFrom = Some(1L))
    SnapshotTable.commit(docsDf(3L), table, 3L, carryFrom = Some(2L))

    // A FRESH consumer starting after expire serves the earliest
    // surviving snapshot in full, then diffs forward — correct.
    SnapshotTable.expire(spark, table, keepFrom = 2L)
    val q1 = tail(table, s"$root/ckpt_fresh", "snap_fresh")
    try {
      q1.processAllAvailable()
      assert(seen("snap_fresh") === Set(1L, 2L, 3L))
      assert(spark.table("snap_fresh").count() === 3L,
        "initial load = gen 2 full snapshot, then the 2->3 diff")
    } finally q1.stop()

    // A consumer whose checkpoint predates the expired manifests must
    // NOT silently re-deliver carried files: planning the un-diffable
    // hop is an error.
    val stream = new SnapshotMicroBatchStream(table, spark.table("snap_fresh").schema,
      skipRewrites = false)
    val ex = intercept[IllegalStateException] {
      stream.planInputPartitions(GenOffset(1L), GenOffset(3L))
    }
    assert(ex.getMessage.contains("retention outran"))
  }

  test("an upsert hop throws by default; skipRewrites tails its fresh rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapupserthop").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L, 2L), table, 1L)
    // A one-commit upsert is a tombstone-carrying hop: a plain append
    // tail cannot express the row-level replace and must fail loudly.
    SnapshotTable.commitUpsert(docsDf(2L), table, 2L, "doc_id", carryFrom = 1L)
    val q1 = tail(table, s"$root/ckpt1", "snap_up1")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    def msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("|")
    assert(msgs.contains("tombstone"))
    // The opted-in consumer gets the hop's ADDED files (the upsert's
    // fresh rows) and ignores the tombstones — the ignoreDeletes-style
    // contract: it re-sees key 2's new row next to the old one.
    val q2 = tail(table, s"$root/ckpt2", "snap_up2", skipRewrites = true)
    try {
      q2.processAllAvailable()
      val got = spark.table("snap_up2").select("doc_id").as[Long].collect().toSeq
      assert(got.sorted === Seq(1L, 2L, 2L),
        "initial load (1,2) plus the upsert hop's fresh row for key 2")
    } finally q2.stop()
  }

  test("capped backfill on an expired-prefix table still serves the initial full load") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapcapretain").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L), table, 1L)
    SnapshotTable.commit(docsDf(2L), table, 2L, carryFrom = Some(1L))
    SnapshotTable.commit(docsDf(3L), table, 3L, carryFrom = Some(2L))
    SnapshotTable.expire(spark, table, keepFrom = 2L)
    // A fresh consumer with a 1-hop cap: the first hop must jump to
    // the earliest SURVIVING generation (the initial full load) rather
    // than crawl through the expired prefix in empty hops and then
    // spuriously fail the full-load condition with from > 0.
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).option("maxGensPerBatch", "1").load()
      .writeStream.option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.select("doc_id").as[Long].collect().foreach(got.add); ()
      }
      .start()
    try {
      q.processAllAvailable()
      assert(got.toArray(Array.empty[java.lang.Long]).map(Long.unbox).toSet
        === Set(1L, 2L, 3L),
        "initial load = gen 2 full snapshot, then the capped 2->3 diff")
    } finally q.stop()
  }

  test("maxFilesPerBatch chunks the initial load; a restart mid-load resumes the chunk sequence") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapchunk").toString
    val table = s"$root/table"
    // Four single-row files published explicitly, so each chunk's row
    // count is exactly its file count.
    val paths = (1L to 4L).map { i =>
      val p = s"$table/data/gen=1/f_$i"
      Seq(Doc(i, s"t$i")).toDF().coalesce(1).write.parquet(p)
      spark.read.parquet(p).inputFiles.head
    }
    SnapshotTable.publish(spark, table, 1L, paths)
    SnapshotTable.commit(docsDf(9L), table, 2L, carryFrom = Some(1L))

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Set[Long]]()
    def tailChunked(trigger: Option[org.apache.spark.sql.streaming.Trigger]) = {
      val w = spark.readStream
        .format(classOf[SnapshotSourceProvider].getName)
        .option("path", table).option("maxFilesPerBatch", "2").load()
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ids = b.select("doc_id").as[Long].collect().toSet
          if (ids.nonEmpty) batches.add(ids); ()
        }
      trigger.fold(w)(w.trigger).start()
    }

    // One triggered batch = the FIRST chunk only (2 of 4 files), then
    // the query dies with the rest of the load pending.
    val q1 = tailChunked(Some(org.apache.spark.sql.streaming.Trigger.Once()))
    try q1.awaitTermination() finally q1.stop()
    val first = batches.toArray(Array.empty[Set[Long]])
    assert(first.length === 1 && first.head.size === 2,
      s"first chunk must hold exactly 2 single-row files, got ${first.toSeq}")

    // The restart resumes from the mid-load checkpoint: remaining
    // chunk + the append hop, no row lost or duplicated.
    val q2 = tailChunked(None)
    try q2.processAllAvailable() finally q2.stop()
    val all = batches.toArray(Array.empty[Set[Long]])
    assert(all.flatten.toSet === Set(1L, 2L, 3L, 4L, 9L))
    assert(all.map(_.size).sum === 5, s"no duplicates across chunks: ${all.toSeq}")
    assert(all.forall(_.size <= 2), "every batch stays within the file cap")
  }

  test("expiring the pinned generation MID-chunked-load fails loudly, never re-slices") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapchunkexp").toString
    val table = s"$root/table"
    val paths = (1L to 4L).map { i =>
      val p = s"$table/data/gen=1/f_$i"
      Seq(Doc(i, s"t$i")).toDF().coalesce(1).write.parquet(p)
      spark.read.parquet(p).inputFiles.head
    }
    SnapshotTable.publish(spark, table, 1L, paths)
    SnapshotTable.commit(docsDf(9L), table, 2L, carryFrom = Some(1L))

    def tailChunked(trigger: Option[org.apache.spark.sql.streaming.Trigger]) = {
      val w = spark.readStream
        .format(classOf[SnapshotSourceProvider].getName)
        .option("path", table).option("maxFilesPerBatch", "2").load()
        .writeStream.option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) => () }
      trigger.fold(w)(w.trigger).start()
    }
    // One chunk lands; the offset is pinned to generation 1 at file 2.
    val q1 = tailChunked(Some(org.apache.spark.sql.streaming.Trigger.Once()))
    try q1.awaitTermination() finally q1.stop()
    // Retention sweeps the load's generation out from under the
    // checkpoint. A resumed consumer must fail with the retention
    // error — the offset pins gen 1, so it can NEVER silently slice
    // gen 2's (different) file list from index 2.
    SnapshotTable.expire(spark, table, keepFrom = 2L)
    val q2 = tailChunked(None)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination()
    }
    def msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("|")
    assert(msgs.contains("retention outran"), s"got: $msgs")
  }

  test("a skipped rewrite hop must be content-neutral: net inserts fail loudly") {
    val root = Files.createTempDirectory("snapnonneutral").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L, 2L, 3L), table, 1L)
    // A copy-on-write MERGE shape: generation 2 rewrites the whole
    // table WITH a net-new row — at the file level it removes gen 1's
    // files and adds files carrying one extra row. skipRewrites may
    // only skip content-NEUTRAL rewrites; silently dropping this hop
    // would lose doc 9 forever for the opted-in consumer.
    SnapshotTable.commit(docsDf(1L, 2L, 3L, 9L), table, 2L)
    val q = tail(table, s"$root/ckpt", "snap_nonneutral", skipRewrites = true)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    def msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("|")
    assert(msgs.contains("NON-NEUTRAL"))
  }

  test("a count-preserving value rewrite (1:1 copy-on-write UPDATE) also fails loudly") {
    val root = Files.createTempDirectory("snapvaluerewrite").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L, 2L, 3L), table, 1L)
    // Same ROW COUNT, different values — the shape a footer-count-only
    // guard cannot see. The commit's recorded 'merge' action decides
    // neutrality, so the opted-in consumer still fails instead of
    // silently serving stale values forever.
    import spark.implicits._
    val updDir = s"$table/data/gen=2"
    Seq(Doc(1L, "CHANGED"), Doc(2L, "CHANGED"), Doc(3L, "CHANGED")).toDF()
      .coalesce(1).write.parquet(updDir)
    SnapshotTable.publish(spark, table, 2L,
      spark.read.parquet(updDir).inputFiles.toSeq, action = "merge")
    val q = tail(table, s"$root/ckpt", "snap_valuerewrite", skipRewrites = true)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination()
    }
    def msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("|")
    assert(msgs.contains("NON-NEUTRAL") && msgs.contains("'merge'"))
  }

  test("pushed range filters prune files through the manifest zone maps") {
    import spark.implicits._
    val root = Files.createTempDirectory("snappush").toString
    val table = s"$root/table"
    // Four files with disjoint doc_id ranges and a long-form stats
    // manifest over them (the snapshotSkip2 layout, minimal).
    val slices = Seq(0L until 10L, 10L until 20L, 20L until 30L, 30L until 40L)
    val dataDir = s"$table/data/gen=1"
    val paths = slices.zipWithIndex.map { case (r, i) =>
      val p = s"$dataDir/slice_$i"
      r.map(id => Doc(id, s"t$id")).toDF().coalesce(1).write.parquet(p)
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    }
    SnapshotTable.publishStats(spark, table, 1L,
      SnapshotTable.footerStats(spark, paths, Seq("doc_id")))

    val df = spark.read
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).load()
      .filter(col("doc_id") >= 12L && col("doc_id") <= 25L)

    // Catalyst pushes the comparisons; batch planning admits only the
    // two slices whose recorded range intersects [12, 25].
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.inputRDD.getNumPartitions === 2,
      "only the two intersecting slices may be planned")
    // The residual row filter still applies on top of the admitted
    // boundary files.
    assert(df.select("doc_id").as[Long].collect().toSet === (12L to 25L).toSet)
  }

  test("equality and IN probes prune files through the bloom sidecar in batch planning") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapbloom").toString
    val table = s"$root/table"
    // Four slice files laid out by doc_id RANGE while the probe column
    // `tag` is SCATTERED (tag = doc_id * 37 % 101): every file spans
    // nearly the full tag domain, so a zone map on tag admits ~all
    // files and only the bloom sidecar can prune a tag point lookup.
    val slices = Seq(0L until 10L, 10L until 20L, 20L until 30L, 30L until 40L)
    val dataDir = s"$table/data/gen=1"
    val paths = slices.zipWithIndex.map { case (r, i) =>
      val p = s"$dataDir/slice_$i"
      r.map(id => (id, id * 37L % 101L)).toDF("doc_id", "tag")
        .coalesce(1).write.parquet(p)
      val fs = new org.apache.hadoop.fs.Path(p)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(p))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    }
    SnapshotTable.publishAppend(spark, table, 1L, paths.sorted, carryFrom = None)
    SnapshotTable.writeBloomIndex(spark, table, "tag", paths)

    def read() = spark.read
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).load()
    def plannedFiles(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum

    // tag 37 exists only in slice 0 (doc_id 1); with 40 keys against
    // 16384 bits a false positive is possible but admitting all four
    // files is not — the planner must have consulted the sidecar.
    val eq = read().filter(col("tag") === 37L).select("doc_id")
    assert(plannedFiles(eq) < paths.size,
      "an equality probe on the bloom-indexed column must plan fewer files")
    assert(eq.as[Long].collect().toSet === Set(1L))

    // IN probes admit the UNION of per-value admissions (tag 37 lives
    // in slice 0, tag 80 = 24*37%101 in slice 2) — still fewer than
    // every file.
    val in = read().filter(col("tag").isin(37L, 80L)).select("doc_id")
    assert(plannedFiles(in) < paths.size)
    assert(in.as[Long].collect().toSet === Set(1L, 24L))

    // A probe on a column with NO sidecar keeps the conservative
    // admit-everything posture (correctness never rests on the index).
    val cold = read().filter(col("doc_id") === 5L).select("tag")
    assert(plannedFiles(cold) === paths.size)
    assert(cold.as[Long].collect().toSeq === Seq(5L * 37L % 101L))

    // An unsatisfiable probe conjunction plans zero files outright.
    val none = read().filter(col("tag") === 37L && col("tag").isin(52L))
    assert(plannedFiles(none) === 0)
    assert(none.count() === 0L)

    // Incremental maintenance: a file appended WITHOUT indexing admits
    // conservatively (pruning may only skip what the index proves
    // absent); extending the sidecar in append mode — indexing ONLY
    // the new file — restores pruning across old and new files.
    val p5 = s"$dataDir/slice_4"
    (40L until 50L).map(id => (id, id * 37L % 101L)).toDF("doc_id", "tag")
      .coalesce(1).write.parquet(p5)
    val fs5 = new org.apache.hadoop.fs.Path(p5)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newFile = fs5.listStatus(new org.apache.hadoop.fs.Path(p5))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    SnapshotTable.publishAppend(spark, table, 2L, (paths :+ newFile).sorted,
      carryFrom = None)
    val cold5 = read().filter(col("tag") === 37L).select("doc_id")
    assert(plannedFiles(cold5) === plannedFiles(eq) + 1,
      "the unindexed appended file must admit conservatively")
    SnapshotTable.writeBloomIndex(spark, table, "tag", Seq(newFile),
      append = true)
    // tag 37 does not occur among doc_ids 40..49 (37·d ≡ 37 mod 101 ⟺
    // d ≡ 1), so the extended index prunes the new file again.
    val warm5 = read().filter(col("tag") === 37L).select("doc_id")
    assert(plannedFiles(warm5) === plannedFiles(eq))
    assert(warm5.as[Long].collect().toSet === Set(1L))
  }

  test("STRING point probes prune files through the bloom sidecar (incl. non-ASCII)") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapstrbloom").toString
    val table = s"$root/table"
    // Four files, each holding ten string ids — including keys with
    // multi-byte UTF-8 — so a probe admitting more than one file means
    // the build side's `cast("string")` rendering and the driver-side
    // probe hashing disagreed byte-for-byte.
    def sid(id: Long): String = id match {
      case 7L => "café-7"       // Latin-1 supplement (2-byte UTF-8)
      case 23L => "δοκ-23" // Greek (2-byte)
      case 31L => "文書-31"  // CJK (3-byte)
      case _ => s"doc-$id"
    }
    val dataDir = s"$table/data/gen=1"
    val paths = Seq(0L until 10L, 10L until 20L, 20L until 30L, 30L until 40L)
      .zipWithIndex.map { case (r, i) =>
        val p = s"$dataDir/slice_$i"
        r.map(id => (id, sid(id))).toDF("doc_id", "sid")
          .coalesce(1).write.parquet(p)
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
      }
    SnapshotTable.publishAppend(spark, table, 1L, paths.sorted, carryFrom = None)
    SnapshotTable.writeBloomIndex(spark, table, "sid", paths)

    def read() = spark.read
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).load()
    def plannedFiles(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum

    // ASCII point probe: lives only in slice 1.
    val eq = read().filter(col("sid") === "doc-15").select("doc_id")
    assert(plannedFiles(eq) < paths.size,
      "a string equality probe on the bloom-indexed column must plan fewer files")
    assert(eq.as[Long].collect().toSet === Set(15L))

    // Non-ASCII probes: each admits (at least) its own file and serves
    // exactly its row — a rendering mismatch anywhere (UTF-8 bytes,
    // salt concatenation) would hash to different positions and either
    // plan all files or, worse, none.
    Seq(7L, 23L, 31L).foreach { id =>
      val probe = read().filter(col("sid") === sid(id)).select("doc_id")
      assert(plannedFiles(probe) < paths.size,
        s"non-ASCII probe ${sid(id)} must prune")
      assert(probe.as[Long].collect().toSet === Set(id))
    }

    // IN over string keys from two different slices: union admission,
    // still fewer than all files.
    val in = read().filter(col("sid").isin("doc-3", "doc-36")).select("doc_id")
    assert(plannedFiles(in) < paths.size)
    assert(in.as[Long].collect().toSet === Set(3L, 36L))

    // A probe value present nowhere plans at most the false-positive
    // files and returns nothing.
    val miss = read().filter(col("sid") === "doc-999").select("doc_id")
    assert(miss.count() === 0L)
  }

  test("schema evolution degrades to nulls in the connector's by-name decode") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapevolve").toString
    val table = s"$root/table"
    // Gen 1 predates the `score` column; gen 2 appends files that
    // carry it. Schema inference unions the footers (mergeSchema), and
    // the by-name row decode must null-fill the old files' missing
    // column instead of misaligning positions.
    SnapshotTable.commit(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), table, 1L)
    SnapshotTable.commit(Seq((3L, "c", 9L)).toDF("doc_id", "text", "score"),
      table, 2L, carryFrom = Some(1L))

    val df = spark.read
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).load()
    assert(df.schema.fieldNames.toSet === Set("doc_id", "text", "score"))
    val rows = df.select("doc_id", "score")
      .as[(Long, Option[Long])].collect().toMap
    assert(rows === Map(1L -> None, 2L -> None, 3L -> Some(9L)))
  }

  test("DataFrameWriter appends commit generations through the connector") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapwrite").toString
    val table = s"$root/table"

    def append(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format(classOf[SnapshotSourceProvider].getName)
        .option("path", table).mode("append").save()

    // First write creates generation 1 (no schema to infer yet — the
    // dataframe's own schema flows through external metadata).
    append(docsDf(1L, 2L))
    append(docsDf(3L))
    assert(SnapshotTable.generations(spark, table) === Seq(1L, 2L))

    // Append-without-rewrite holds for connector writes too.
    val f1 = SnapshotTable.listFiles(spark, table, 1L).toSet
    assert(f1.subsetOf(SnapshotTable.listFiles(spark, table, 2L).toSet))

    // Round-trip BOTH ways: the connector's own readers and a plain
    // spark.read.parquet must see identical typed content.
    assert(SnapshotTable.readAs(spark, table, 2L)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L))
    val viaConnector = spark.read
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).load()
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(viaConnector === Set((1L, "text 1"), (2L, "text 2"), (3L, "text 3")))

  }

  test("native STREAMING_WRITE commits generation-per-epoch and restarts cleanly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("snapnativesink").toString
    val (table, ckpt) = (s"$root/table", s"$root/ckpt")

    val in = MemoryStream[Doc]
    def start() = in.toDS().toDF().writeStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table)
      .option("checkpointLocation", ckpt)
      .start()

    val q1 = start()
    try {
      in.addData(Doc(1L, "a"), Doc(2L, "b"))
      q1.processAllAvailable()
      in.addData(Doc(3L, "c"))
      q1.processAllAvailable()
    } finally q1.stop()

    // Epoch N is generation N+1; appends reuse history verbatim.
    assert(SnapshotTable.generations(spark, table) === Seq(1L, 2L))
    val f1 = SnapshotTable.listFiles(spark, table, 1L).toSet
    assert(f1.subsetOf(SnapshotTable.listFiles(spark, table, 2L).toSet))
    def ids(g: Long): Set[Long] =
      SnapshotTable.readAs(spark, table, g).select("doc_id").as[Long].collect().toSet
    assert(ids(1L) === Set(1L, 2L))
    assert(ids(2L) === Set(1L, 2L, 3L))

    // Data arrives while the sink is DOWN; the restarted query resumes
    // at the next epoch and commits the NEXT generation — batch history
    // is never rewritten.
    in.addData(Doc(4L, "d"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(SnapshotTable.generations(spark, table) === Seq(1L, 2L, 3L))
    assert(ids(3L) === Set(1L, 2L, 3L, 4L))
    assert(ids(1L) === Set(1L, 2L), "history stays byte-stable")
  }

  test("streaming ingest into a PARTITIONED table keeps routing and zone-row pruning") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("snappartsink").toString
    val (table, ckpt) = (s"$root/table", s"$root/ckpt")
    // Partition spec recorded up front (the CTAS path's marker); the
    // streaming sink must route each epoch's rows per value and commit
    // min=max=value zone rows exactly like the batch writers.
    SnapshotTable.recordPartitionColumn(spark, table, "b")

    val in = MemoryStream[(Long, Int)]
    val q = in.toDS().toDF("k", "b").writeStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", table)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData((1L, 10), (2L, 20), (3L, 10))
      q.processAllAvailable()
      in.addData((4L, 20), (5L, 30))
      q.processAllAvailable()
    } finally q.stop()

    assert(SnapshotTable.generations(spark, table) === Seq(1L, 2L))
    // Partition predicate prunes: b=10 lives in exactly one gen-1 file
    // (both epochs routed; gen 2 adds b=20 and b=30 files only).
    val probe = spark.read.format(classOf[SnapshotSourceProvider].getName)
      .option("path", table).load()
      .filter(col("b") === 10).select("k")
    assert(probe.as[Long].collect().toSet === Set(1L, 3L))
    val planned = SnapshotSource.lastPlan(table).map(_._1).getOrElse(-1)
    val all = SnapshotTable.listFiles(spark, table, 2L)
    // Exactly the b=10-routed files plan (task counts vary with the
    // memory stream's partitioning, so compare against the routed
    // directories, not a constant).
    val b10 = all.count(_.contains("/p=10/"))
    assert(b10 >= 1 && b10 < all.size)
    assert(planned === b10,
      s"b=10 lives in $b10 of ${all.size} partition-routed files; planned $planned")
  }

  test("batch read refuses a tombstoned generation; misaligned sinks refuse too") {
    import spark.implicits._
    val root = Files.createTempDirectory("snapguards").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L, 2L), table, 1L)
    SnapshotTable.commitDeletes(Seq(2L).toDF("doc_id"), table, 2L, carryFrom = 1L)

    // A file-level batch scan of a merge-on-read generation would
    // resurrect deleted rows — it must fail, not return them.
    val ex1 = intercept[Exception] {
      spark.read.format(classOf[SnapshotSourceProvider].getName)
        .option("path", table).load().count()
    }
    def msgs(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("|")
    assert(msgs(ex1).contains("readMor"))

    // A streaming sink with a FRESH checkpoint pointed at this table
    // would replay epoch 0 and overwrite generation 1 — the alignment
    // guard refuses before any manifest is touched.
    val ex2 = intercept[IllegalStateException] {
      SnapshotStream.commitBatch(docsDf(9L), batchId = 0L, table)
    }
    assert(ex2.getMessage.contains("not aligned"))
    // Nothing was destroyed: gen 1 still serves its original content.
    assert(SnapshotTable.readAs(spark, table, 1L).count() === 2L)
  }

  test("closed loop: the transactional sink feeds the source through the table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("snaploop").toString
    val (table, inCkpt, outCkpt) = (s"$root/table", s"$root/in", s"$root/out")

    val in = MemoryStream[Doc]
    val ingest = SnapshotStream.snapshotIngest(in.toDS(), table, inCkpt).start()
    try {
      in.addData(Doc(1L, "a"), Doc(2L, "b"))
      ingest.processAllAvailable()

      val out = tail(table, outCkpt, "snap_loop")
      try {
        out.processAllAvailable()
        in.addData(Doc(3L, "c"))
        ingest.processAllAvailable()
        out.processAllAvailable()
        assert(seen("snap_loop") === Set(1L, 2L, 3L))
        assert(spark.table("snap_loop").count() === 3L)
        // The relay preserved payloads, not just keys.
        assert(spark.table("snap_loop").filter(col("doc_id") === 3L)
          .select("text").as[String].collect().toSeq === Seq("c"))
      } finally out.stop()
    } finally ingest.stop()
  }

  test("AvailableNow pins its target: a commit after prepare waits for the next run") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = Files.createTempDirectory("snapavailnow").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L), table, 1L)
    SnapshotTable.commit(docsDf(2L), table, 2L, carryFrom = Some(1L))

    val stream = new SnapshotMicroBatchStream(table,
      docsDf(1L).schema, skipRewrites = false, maxGensPerBatch = 1L)
    stream.prepareForTriggerAvailableNow() // target pinned at gen 2
    // A generation committed AFTER the pin must not be drained by THIS
    // run, even though a continuous trigger would take it.
    SnapshotTable.commit(docsDf(3L), table, 3L, carryFrom = Some(2L))

    val hop1 = stream.latestOffset(GenOffset(0L), ReadLimit.allAvailable())
      .asInstanceOf[GenOffset]
    assert(hop1 === GenOffset(1L), "rate limiting still applies inside the run")
    val hop2 = stream.latestOffset(hop1, ReadLimit.allAvailable())
      .asInstanceOf[GenOffset]
    assert(hop2 === GenOffset(2L), "the run drains exactly to the pinned target")
    val hop3 = stream.latestOffset(hop2, ReadLimit.allAvailable())
      .asInstanceOf[GenOffset]
    assert(hop3 === GenOffset(2L),
      "gen 3 landed after the pin - it belongs to the next run")

    // A fresh stream instance (the next scheduled run) sees gen 3.
    val next = new SnapshotMicroBatchStream(table,
      docsDf(1L).schema, skipRewrites = false, maxGensPerBatch = 1L)
    next.prepareForTriggerAvailableNow()
    val resume = next.latestOffset(GenOffset(2L), ReadLimit.allAvailable())
      .asInstanceOf[GenOffset]
    assert(resume === GenOffset(3L))
  }

  test("startingGeneration skips history; startingTimestamp resolves via markers") {
    val root = Files.createTempDirectory("snapstart").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L), table, 1L)
    SnapshotTable.commit(docsDf(2L), table, 2L, carryFrom = Some(1L))
    SnapshotTable.commit(docsDf(3L), table, 3L, carryFrom = Some(2L))

    def startFrom(name: String, opts: (String, String)*): Unit = {
      val r = spark.readStream
        .format(classOf[SnapshotSourceProvider].getName)
        .option("path", table)
      val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$root/ckpt_$name")
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    // Delivery begins AT the named generation: gens 1-2 never read.
    startFrom("start_gen", "startingGeneration" -> "3")
    assert(seen("start_gen") === Set(3L))
    // At-or-below the earliest generation degrades to the full load.
    startFrom("start_gen1", "startingGeneration" -> "1")
    assert(seen("start_gen1") === Set(1L, 2L, 3L))
    // A timestamp resolves to the earliest commit AT OR AFTER it.
    val ts2 = SnapshotTable.commitTimestamp(spark, table, 2L).get
    startFrom("start_ts", "startingTimestamp" -> ts2.toString)
    assert(seen("start_ts") === Set(2L, 3L))
    // A timestamp after every commit starts with only FUTURE commits.
    val ts3 = SnapshotTable.commitTimestamp(spark, table, 3L).get
    startFrom("start_future", "startingTimestamp" -> (ts3 + 1L).toString)
    assert(seen("start_future") === Set.empty[Long])
    SnapshotTable.commit(docsDf(4L), table, 4L, carryFrom = Some(3L))
    startFrom("start_future2", "startingTimestamp" -> (ts3 + 1L).toString)
    assert(seen("start_future2") === Set(4L))
    // Beyond next-commit generations refuse loudly.
    val e = intercept[Exception] {
      startFrom("start_bad", "startingGeneration" -> "99")
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(e).contains("beyond the next commit"))
  }

  test("startingGeneration inside an expired prefix refuses instead of over-delivering") {
    val root = Files.createTempDirectory("snapstartexp").toString
    val table = s"$root/table"
    SnapshotTable.commit(docsDf(1L), table, 1L)
    SnapshotTable.commit(docsDf(2L), table, 2L, carryFrom = Some(1L))
    SnapshotTable.commit(docsDf(3L), table, 3L, carryFrom = Some(2L))
    SnapshotTable.expire(spark, table, keepFrom = 3L) // gens = {3}

    def startFrom(name: String, g: String): Unit = {
      val q = spark.readStream
        .format(classOf[SnapshotSourceProvider].getName)
        .option("path", table).option("startingGeneration", g)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$root/ckpt_$name")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)

    // Strictly between genesis and the earliest survivor: the start
    // names expired history; a full initial load would deliver the
    // prefix the start was meant to put behind the consumer.
    val e = intercept[Exception] { startFrom("start_exp2", "2") }
    assert(msgs(e).contains("no longer replayable"))
    // The two documented degrade points still serve the full load.
    startFrom("start_exp3", "3")
    assert(seen("start_exp3") === Set(1L, 2L, 3L))
    startFrom("start_exp1", "1")
    assert(seen("start_exp1") === Set(1L, 2L, 3L))
  }
}
