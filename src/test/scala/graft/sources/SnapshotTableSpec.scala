package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The file-set mechanics of the manifest layer — the invariants the
  * SQL oracle of `src_snapshot` cannot see (it only checks content):
  * scans resolve to exactly the manifest's files, appends reuse history
  * without rewriting it, and compaction leaves old generations
  * readable from their original (disjoint) files.
  */
class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  test("append reuses history; compaction rewrites without touching it") {
    val table = graft.Scratch.dir("snapshot_spec")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 =!= 0).repartition(4), table, 1L)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 === 0).repartition(2),
      table, 2L, carryFrom = Some(1L))
    SnapshotTable.compact(spark, table, 2L, 2)

    val f1 = SnapshotTable.listFiles(spark, table, 1L).toSet
    val f2 = SnapshotTable.listFiles(spark, table, 2L).toSet
    val f3 = SnapshotTable.listFiles(spark, table, 3L).toSet
    // Append without rewrite: gen 2 carries gen 1's files verbatim.
    assert(f1.subsetOf(f2), "append manifest must reuse the base files")
    assert((f2 -- f1).size === 2, "append contributes only the batch's files")
    // Compaction writes a fresh file set — time travel needs the old one.
    assert(f3.intersect(f2).isEmpty, "compacted generation shares no files")
    assert(f3.size === 2)

    // Scan pruning: the planned read touches exactly the manifest's
    // files — snapshot isolation by construction.
    assert(SnapshotTable.readAs(spark, table, 1L).inputFiles.toSet === f1)
    assert(SnapshotTable.readAs(spark, table, 3L).inputFiles.toSet === f3)

    // Time travel: pre- and post-compaction snapshots serve identical
    // content from different files.
    val g2 = SnapshotTable.readAs(spark, table, 2L)
      .orderBy("o_orderkey").collect().toSeq
    val g3 = SnapshotTable.readAs(spark, table, 3L)
      .orderBy("o_orderkey").collect().toSeq
    assert(g2 === g3)
    // And gen 1 still reads the pre-append subset.
    val g1n = SnapshotTable.readAs(spark, table, 1L).count()
    assert(g1n === orders.filter(col("o_orderkey") % 4 =!= 0).count())
  }

  test("incremental change read touches only the diffed files") {
    val table = graft.Scratch.dir("snapshot_changes_spec")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 =!= 0).repartition(4), table, 1L)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 === 0).repartition(2),
      table, 2L, carryFrom = Some(1L))
    SnapshotTable.compact(spark, table, 2L, 2)

    // Append hop: added = exactly the batch's files, nothing removed —
    // the carried-forward history never re-enters the consumer's scan.
    val (a12, r12) = SnapshotTable.changedFiles(spark, table, 1L, 2L)
    val f1 = SnapshotTable.listFiles(spark, table, 1L).toSet
    assert(r12.isEmpty, "an append hop removes nothing")
    assert(a12.size === 2)
    assert(a12.toSet.intersect(f1).isEmpty)
    val inc = spark.read.parquet(a12: _*)
    assert(inc.inputFiles.toSet === a12.toSet,
      "incremental scan must open only the added files")
    assert(inc.count() === orders.filter(col("o_orderkey") % 4 === 0).count())

    // Compaction hop: full file-set rewrite, content-neutral — added
    // and removed sides carry identical rows.
    val (a23, r23) = SnapshotTable.changedFiles(spark, table, 2L, 3L)
    assert(a23.size === 2 && r23.size === 6)
    val added = spark.read.parquet(a23: _*)
      .agg(count(lit(1)), sum("o_orderkey")).collect()(0)
    val removed = spark.read.parquet(r23: _*)
      .agg(count(lit(1)), sum("o_orderkey")).collect()(0)
    assert(added === removed)
  }

  test("merge-on-read: tombstones carry, compact refuses, expire reaps them") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_mor_spec")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(orders.select("o_orderkey").repartition(4), table, 1L)
    SnapshotTable.commitDeletes(
      orders.filter(col("o_orderkey") % 2 === 0).select("o_orderkey")
        .repartition(1),
      table, 2L, carryFrom = 1L)

    // The delete rewrote NOTHING: gen 2's data files are gen 1's
    // verbatim, plus exactly one tombstone entry.
    val f1 = SnapshotTable.listFiles(spark, table, 1L)
    assert(SnapshotTable.listFiles(spark, table, 2L) === f1)
    val dels = SnapshotTable.listDeleteFiles(spark, table, 2L)
    assert(dels.size === 1)
    assert(SnapshotTable.listDeleteFiles(spark, table, 1L).isEmpty)

    // Visibility: readMor applies the anti-join; readAs still serves
    // the raw data files (time travel to pre-delete content via gen 1).
    val odd = orders.filter(col("o_orderkey") % 2 =!= 0).count()
    assert(SnapshotTable.readMor(spark, table, 2L, "o_orderkey").count() === odd)
    assert(SnapshotTable.readAs(spark, table, 1L).count() === orders.count())

    // A pure-data compaction of the tombstoned generation would
    // resurrect deleted rows — it must refuse.
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, table, 2L, 2)
    }
    assert(ex.getMessage.contains("resurrect"))

    // Materialization purges: commit(readMor) has no tombstones and a
    // tombstone-free readMor plans NO join (it IS readAs).
    SnapshotTable.commit(
      SnapshotTable.readMor(spark, table, 2L, "o_orderkey").repartition(2),
      table, 3L)
    assert(SnapshotTable.listDeleteFiles(spark, table, 3L).isEmpty)
    val plan = SnapshotTable.readMor(spark, table, 3L, "o_orderkey")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"))
    assert(SnapshotTable.readMor(spark, table, 3L, "o_orderkey").count() === odd)

    // Expire below the materialization: gen 2's tombstone file is an
    // orphan (only gen 2 referenced it) and must be reaped with the
    // rest; the survivor keeps serving.
    SnapshotTable.expire(spark, table, keepFrom = 3L)
    assert(!new java.io.File(dels.head.stripPrefix("file:")).exists,
      "expired tombstone files are orphans like any other")
    assert(SnapshotTable.readMor(spark, table, 3L, "o_orderkey").count() === odd)
  }

  test("merge-on-read: tombstones carry through a plain append") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_mor_carry_spec")
    SnapshotTable.commit(Seq(1L, 2L, 3L, 4L).toDF("o_orderkey"), table, 1L)
    SnapshotTable.commitDeletes(Seq(2L, 4L).toDF("o_orderkey"),
      table, 2L, carryFrom = 1L)
    // An append that dropped the carried tombstones would resurrect
    // the deleted rows; a key-level tombstone also keeps suppressing a
    // RE-INSERTED key until a materialization purges (the documented
    // whole-snapshot semantic).
    SnapshotTable.commit(Seq(5L, 4L).toDF("o_orderkey"), table, 3L,
      carryFrom = Some(2L))
    assert(SnapshotTable.listDeleteFiles(spark, table, 3L) ===
      SnapshotTable.listDeleteFiles(spark, table, 2L))
    assert(SnapshotTable.readMor(spark, table, 3L, "o_orderkey")
      .as[Long].collect().toSet === Set(1L, 3L, 5L))
  }

  test("rollback re-points at the restored files verbatim, writes none, guards lineage") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_rollback_spec")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 =!= 0).repartition(3), table, 1L)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 === 0).repartition(2),
      table, 2L, carryFrom = Some(1L))
    SnapshotTable.rollback(spark, table, toGen = 1L, asGen = 3L)
    // The restore is a manifest re-point: gen 3's file list IS gen 1's,
    // and no new data file appeared anywhere in the table.
    assert(SnapshotTable.listFiles(spark, table, 3L) ===
      SnapshotTable.listFiles(spark, table, 1L))
    assert(SnapshotTable.readAs(spark, table, 3L).inputFiles.toSet ===
      SnapshotTable.readAs(spark, table, 1L).inputFiles.toSet)
    // The rolled-back-over generation keeps time-traveling for audit.
    assert(SnapshotTable.readAs(spark, table, 2L).count() === orders.count())
    // History is append-only: restoring ONTO committed lineage (asGen
    // not beyond the latest) or restoring a generation that does not
    // exist yet must both refuse.
    intercept[IllegalArgumentException] {
      SnapshotTable.rollback(spark, table, toGen = 1L, asGen = 2L)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.rollback(spark, table, toGen = 9L, asGen = 4L)
    }

    // A rollback TO a merge-on-read generation carries its tombstones:
    // restoring the pre-purge view must keep the deleted keys hidden.
    val t2 = graft.Scratch.dir("snapshot_rollback_mor_spec")
    SnapshotTable.commit(Seq(1L, 2L, 3L, 4L).toDF("o_orderkey"), t2, 1L)
    SnapshotTable.commitDeletes(Seq(2L).toDF("o_orderkey"), t2, 2L, carryFrom = 1L)
    // Gen 3 materializes the purge; gen 4 restores the tombstoned view.
    SnapshotTable.commit(SnapshotTable.readMor(spark, t2, 2L, "o_orderkey"), t2, 3L)
    SnapshotTable.rollback(spark, t2, toGen = 2L, asGen = 4L)
    assert(SnapshotTable.listDeleteFiles(spark, t2, 4L) ===
      SnapshotTable.listDeleteFiles(spark, t2, 2L))
    assert(SnapshotTable.readMor(spark, t2, 4L, "o_orderkey")
      .as[Long].collect().toSet === Set(1L, 3L, 4L))
  }

  test("vacuum removes only unreferenced files; tombstones and staged branches survive") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_vacuum_spec")
    val conf = spark.sparkContext.hadoopConfiguration
    SnapshotTable.commit(Seq(1L, 2L, 3L, 4L).toDF("o_orderkey"), table, 1L)
    // A merge-on-read delete: the tombstone file is manifest-referenced
    // content and must survive vacuum.
    SnapshotTable.commitDeletes(Seq(2L).toDF("o_orderkey"), table, 2L, carryFrom = 1L)
    // Crashed-writer debris in both layout roots.
    Seq(9L).toDF("o_orderkey").write.parquet(s"$table/data/gen=1/a=crashed")
    Seq(9L).toDF("o_orderkey").write.parquet(s"$table/deletes/gen=2/a=crashed")
    // A staged-for-audit branch: referenced by its branch manifest.
    SnapshotTable.stage(Seq(7L).toDF("o_orderkey"), table, "audit")
    val (_, removed) = SnapshotTable.vacuum(spark, table, minAgeMs = 0L)
    assert(removed === 2L, "exactly the two debris files are orphans")
    // Everything referenced still serves.
    assert(SnapshotTable.readMor(spark, table, 2L, "o_orderkey")
      .as[Long].collect().toSet === Set(1L, 3L, 4L))
    assert(SnapshotTable.readStaged(spark, table, "audit")
      .as[Long].collect().toSet === Set(7L))
    // Idempotent: a second sweep finds nothing.
    assert(SnapshotTable.vacuum(spark, table, minAgeMs = 0L)._2 === 0L)
  }

  test("shallow clone references source files verbatim and evolves independently") {
    import spark.implicits._
    val src = graft.Scratch.dir("snapshot_clone_src_spec")
    val dest = graft.Scratch.dir("snapshot_clone_dest_spec")
    SnapshotTable.commit(Seq(1L, 2L, 3L, 4L).toDF("o_orderkey"), src, 1L)
    SnapshotTable.cloneShallow(spark, src, 1L, dest)
    // Zero-copy: the clone's gen-1 file list IS the source's.
    val srcFiles = SnapshotTable.listFiles(spark, src, 1L)
    assert(SnapshotTable.listFiles(spark, dest, 1L) === srcFiles)
    // Independence: the clone's append writes under the CLONE's
    // directory; the source's manifest and content are untouched.
    SnapshotTable.commit(Seq(5L).toDF("o_orderkey"), dest, 2L,
      carryFrom = Some(1L))
    assert(SnapshotTable.listFiles(spark, src, 1L) === srcFiles)
    assert(SnapshotTable.generations(spark, src) === Seq(1L))
    assert(SnapshotTable.readAs(spark, src, 1L)
      .as[Long].collect().toSet === Set(1L, 2L, 3L, 4L))
    assert(SnapshotTable.readAs(spark, dest, 2L)
      .as[Long].collect().toSet === Set(1L, 2L, 3L, 4L, 5L))
    val fresh = SnapshotTable.listFiles(spark, dest, 2L).filterNot(srcFiles.contains)
    // inputFiles are file:// URIs; compare on the contained path.
    assert(fresh.nonEmpty && fresh.forall(_.contains(dest)),
      "the clone's own files must land under the clone's directory")
    // A clone target with committed lineage refuses.
    intercept[IllegalArgumentException] {
      SnapshotTable.cloneShallow(spark, src, 1L, dest)
    }
    // A merge-on-read source clones WITH its tombstones.
    val src2 = graft.Scratch.dir("snapshot_clone_mor_spec")
    val dest2 = graft.Scratch.dir("snapshot_clone_mor_dest_spec")
    SnapshotTable.commit(Seq(1L, 2L, 3L).toDF("o_orderkey"), src2, 1L)
    SnapshotTable.commitDeletes(Seq(2L).toDF("o_orderkey"), src2, 2L, carryFrom = 1L)
    SnapshotTable.cloneShallow(spark, src2, 2L, dest2)
    assert(SnapshotTable.readMor(spark, dest2, 1L, "o_orderkey")
      .as[Long].collect().toSet === Set(1L, 3L))
  }

  test("WAP: staged branch invisible until published by reference; abandon removes files") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_wap_spec")
    val conf = spark.sparkContext.hadoopConfiguration
    SnapshotTable.commit(Seq(1L, 2L, 3L).toDF("o_orderkey"), table, 1L)
    val f1 = SnapshotTable.listFiles(spark, table, 1L).toSet

    // WRITE: the batch stages on a branch. The generation lineage must
    // not move — a reader sees only gen 1 — while the auditor CAN read
    // the staged snapshot through the branch pointer.
    SnapshotTable.stage(Seq(4L, 5L).toDF("o_orderkey"), table, "audit")
    assert(SnapshotTable.generations(spark, table) === Seq(1L))
    assert(SnapshotTable.readStaged(spark, table, "audit")
      .as[Long].collect().toSet === Set(4L, 5L))
    // Branches are first-writer-wins like generations: a racer staging
    // the same branch name loses loudly.
    intercept[IllegalStateException] {
      SnapshotTable.stage(Seq(9L).toDF("o_orderkey"), table, "audit")
    }
    // ... and the loser did not disturb the winner's staged content.
    assert(SnapshotTable.readStaged(spark, table, "audit")
      .as[Long].collect().toSet === Set(4L, 5L))

    // PUBLISH: fast-forward by reference — gen 2 carries gen 1's files
    // verbatim plus EXACTLY the staged files (no rewrite), and the
    // branch pointer retires.
    val staged = SnapshotTable.stagedFiles(spark, table, "audit").toSet
    SnapshotTable.publishStaged(spark, table, "audit", gen = 2L,
      carryFrom = Some(1L))
    assert(SnapshotTable.listFiles(spark, table, 2L).toSet === f1 ++ staged)
    assert(SnapshotTable.readAs(spark, table, 2L)
      .as[Long].collect().toSet === Set(1L, 2L, 3L, 4L, 5L))
    intercept[Exception] { SnapshotTable.stagedFiles(spark, table, "audit") }
    // The published files survive: they are lineage-owned now.
    staged.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      assert(p.getFileSystem(conf).exists(p), s"published file lost: $f")
    }

    // ABANDON: a red audit removes the branch manifest AND its files;
    // the lineage never saw them.
    SnapshotTable.stage(Seq(99L).toDF("o_orderkey"), table, "red")
    val redFiles = SnapshotTable.stagedFiles(spark, table, "red")
    SnapshotTable.abandonStaged(spark, table, "red")
    redFiles.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      assert(!p.getFileSystem(conf).exists(p), s"abandoned file survived: $f")
    }
    assert(SnapshotTable.generations(spark, table) === Seq(1L, 2L))
    // A retired branch name is reusable for the next batch.
    SnapshotTable.stage(Seq(6L).toDF("o_orderkey"), table, "audit")
    assert(SnapshotTable.readStaged(spark, table, "audit")
      .as[Long].collect().toSet === Set(6L))
  }

  test("conflicting commit to an existing generation fails; history keeps serving") {
    val table = graft.Scratch.dir("conflict_spec")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(orders.repartition(2), table, 1L)
    SnapshotTable.commit(orders.limit(10), table, 2L, carryFrom = Some(1L))
    val f2 = SnapshotTable.listFiles(spark, table, 2L)
    // A second writer racing to generation 2 must LOSE, not silently
    // overwrite the committed lineage.
    intercept[IllegalStateException] {
      SnapshotTable.commit(orders.limit(3), table, 2L, carryFrom = Some(1L))
    }
    // The loser changed nothing: gen 2 resolves to the winner's exact
    // file list and gen 1 keeps serving its full content.
    assert(SnapshotTable.listFiles(spark, table, 2L) === f2)
    assert(SnapshotTable.readAs(spark, table, 1L).count() === orders.count())
    // The streaming sink's same-batch-id replay is the one sanctioned
    // re-publish: replace = true lands a fresh attempt and swaps the
    // manifest.
    SnapshotTable.commit(orders.limit(10), table, 2L,
      carryFrom = Some(1L), replace = true)
    assert(SnapshotTable.readAs(spark, table, 2L).count() === orders.count() + 10)
  }

  test("abandon after a crashed publish retires only the pointer; lineage files survive") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_wap_crash_spec")
    SnapshotTable.commit(Seq(1L).toDF("o_orderkey"), table, 1L)
    SnapshotTable.stage(Seq(2L, 3L).toDF("o_orderkey"), table, "stuck")
    // Simulate publishStaged dying BETWEEN its lineage publish and its
    // branch-pointer delete: the files are generation 2's now, but the
    // branch manifest still lists them.
    SnapshotTable.publishAppend(spark, table, 2L,
      SnapshotTable.stagedFiles(spark, table, "stuck"), carryFrom = Some(1L))
    // The natural cleanup of the stuck branch must NOT break gen 2.
    SnapshotTable.abandonStaged(spark, table, "stuck")
    assert(SnapshotTable.readAs(spark, table, 2L)
      .as[Long].collect().toSet === Set(1L, 2L, 3L))
    intercept[Exception] { SnapshotTable.stagedFiles(spark, table, "stuck") }
  }

  test("truly concurrent committers to one generation: exactly one wins, content is the winner's") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_race_spec")
    SnapshotTable.commit(Seq(0L).toDF("o_orderkey"), table, 1L)
    // Four writers race generation 2 FROM SEPARATE THREADS — the
    // sequential conflict test can't catch a check-then-act hole in
    // the staged-rename protocol; this one exercises the real
    // interleaving (all four stage concurrently, the rename decides).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val attempts = (1 to 4).map { i =>
      scala.concurrent.Future {
        try {
          SnapshotTable.commit(Seq(i * 10L, i * 10L + 1).toDF("o_orderkey"),
            table, 2L, carryFrom = Some(1L))
          Some(i)
        } catch { case _: IllegalStateException => None }
      }
    }
    val winners = scala.concurrent.Await
      .result(scala.concurrent.Future.sequence(attempts),
        scala.concurrent.duration.Duration(120, "s")).flatten
    pool.shutdown()
    assert(winners.size === 1,
      s"exactly one concurrent committer may win (got $winners)")
    // The surviving manifest serves the winner's batch exactly — no
    // mixed lineage, no partial file list.
    val w = winners.head
    assert(SnapshotTable.readAs(spark, table, 2L)
      .as[Long].collect().toSet === Set(0L, w * 10L, w * 10L + 1))
    // Losers' staged attempt data is unreferenced debris; vacuum reaps
    // it and the winner's content is untouched.
    SnapshotTable.vacuum(spark, table, minAgeMs = 0L)
    assert(SnapshotTable.readAs(spark, table, 2L)
      .as[Long].collect().toSet === Set(0L, w * 10L, w * 10L + 1))
  }

  test("zone-map skip: footer stats in the manifest prune files exactly") {
    import spark.implicits._
    // Run the registered query for its table side effects.
    val Array(row) = SourceOps.snapshotSkip(spark, dir).collect()
    assert(row.getAs[Long]("n_files_read") < row.getAs[Long]("n_files_total"),
      "the range query must actually skip files")
    val table = graft.Scratch.dir("roundtrip_snapshot_skip")
    // Manifest zone maps equal the true per-file key extremes.
    val manifest = spark.read
      .parquet(s"$table/manifests/gen=1")
      .select("path", "min_key", "max_key")
      .as[(String, Long, Long)].collect()
    manifest.foreach { case (p, mn, mx) =>
      val Array(actual) = spark.read.parquet(p)
        .agg(org.apache.spark.sql.functions.min("o_orderkey"),
          org.apache.spark.sql.functions.max("o_orderkey")).collect()
      assert((actual.getLong(0), actual.getLong(1)) === ((mn, mx)),
        s"footer stats must match data for $p")
    }
    // The pruned read's planned file set is exactly the admitted paths.
    val maxKey = Tables.orders(spark, dir)
      .agg(org.apache.spark.sql.functions.max("o_orderkey")).as[Long].head()
    val (lo, hi) = (maxKey / 4, maxKey / 2)
    val admitted = manifest.filter { case (_, mn, mx) => mn <= hi && mx >= lo }
      .map(_._1).toSet
    val pruned = SnapshotTable.readWhere(spark, table, 1L, "o_orderkey", lo, hi)
    assert(pruned.inputFiles.toSet === admitted)
    // Zone maps are sound: the pruned read loses no matching row.
    val expect = Tables.orders(spark, dir)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi).count()
    assert(pruned.count() === expect)
  }

  test("segmented commits: O(batch) manifests, chain travel, loud guards") {
    val table = graft.Scratch.dir("snapshot_segments_spec")
    def slice(lo: Int, hi: Int) =
      spark.range(lo, hi).selectExpr("id AS k").repartition(2)
    SnapshotTable.commitSegment(slice(0, 10), table, 1L, parent = None)
    SnapshotTable.commitSegment(slice(10, 20), table, 2L, parent = Some(1L))
    SnapshotTable.commitSegment(slice(20, 30), table, 3L, parent = Some(2L))
    // Chain resolution = time travel: each generation sees exactly the
    // cumulative slices.
    assert(SnapshotTable.readSegmented(spark, table, 1L).count() === 10L)
    assert(SnapshotTable.readSegmented(spark, table, 2L).count() === 20L)
    import spark.implicits._
    assert(SnapshotTable.readSegmented(spark, table, 3L)
      .as[Long].collect().sorted.toSeq === (0L until 30L))
    // Each generation's OWN manifest stays O(batch): 2 data files plus
    // one parent ref past the seed — never the cumulative file list.
    assert(SnapshotTable.manifestRowCount(spark, table, 1L) === 2L)
    assert(SnapshotTable.manifestRowCount(spark, table, 3L) === 3L)
    assert(SnapshotTable.resolvedFiles(spark, table, 3L).size === 6)
    // A plain reader must refuse a segment manifest loudly — silently
    // serving one batch as the snapshot is the failure mode.
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.readAs(spark, table, 2L)
    }
    assert(e.getMessage.contains("SEGMENT"))
    // A broken chain (expired parent) fails at resolution, not by
    // serving a partial snapshot.
    val m1 = new org.apache.hadoop.fs.Path(s"$table/manifests/gen=1")
    m1.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m1, true)
    val e2 = intercept[IllegalStateException] {
      SnapshotTable.resolvedFiles(spark, table, 3L)
    }
    assert(e2.getMessage.contains("broken"))
  }

  test("expire protects dead generations a live segment chain resolves through") {
    val table = graft.Scratch.dir("snapshot_segments_expire")
    def slice(lo: Int, hi: Int) =
      spark.range(lo, hi).selectExpr("id AS k").repartition(2)
    SnapshotTable.commitSegment(slice(0, 10), table, 1L, parent = None)
    SnapshotTable.commitSegment(slice(10, 20), table, 2L, parent = Some(1L))
    // keepFrom = 2: gen 1 is dead but live gen 2's chain passes through
    // it — retiring its manifest (or its files, referenced ONLY there)
    // would corrupt gen 2. Protected: nothing retires.
    assert(SnapshotTable.expire(spark, table, 2L) === ((0L, 0L)))
    assert(SnapshotTable.readSegmented(spark, table, 2L).count() === 20L)
    // A full-carry CHECKPOINT re-roots the chain (files by reference),
    // making its ancestors expirable without losing a byte.
    SnapshotTable.publishAppend(spark, table, 3L,
      SnapshotTable.resolvedFiles(spark, table, 2L), carryFrom = None,
      action = "checkpoint")
    SnapshotTable.commitSegment(slice(20, 30), table, 4L, parent = Some(3L))
    // keepFrom = 4: dead = {1,2,3}; gen 4's chain protects 3 (its
    // root); 1 and 2 retire, but their FILES survive — the checkpoint
    // references them — so zero orphans delete.
    assert(SnapshotTable.expire(spark, table, 4L) === ((2L, 0L)))
    assert(SnapshotTable.readSegmented(spark, table, 4L).count() === 30L)
    assert(SnapshotTable.readAs(spark, table, 3L).count() === 20L)
    import spark.implicits._
    assert(SnapshotTable.readSegmented(spark, table, 4L)
      .as[Long].collect().sorted.toSeq === (0L until 30L))
  }

  test("admittedFiles never hands a tombstone file to the reader as data") {
    import spark.implicits._
    // A stats lineage (publishStats) that later gains MoR tombstones
    // (commitDeletes full-row carry): the multi-column zone-map branch
    // must skip kind="delete" rows exactly like the plain branch and
    // readWhere's multi-column arm — an equality-delete KEY file read
    // as data would surface ghost rows.
    val table = graft.Scratch.dir("admitted_tombstone")
    val a = s"$table/data/gen=1/a.parquet"
    val b = s"$table/data/gen=1/b.parquet"
    SnapshotTable.publishStats(spark, table, 1L,
      Seq((a, "k", 0L, 9L), (b, "k", 10L, 19L)))
    SnapshotTable.commitDeletes(Seq(5L).toDF("k"), table, 2L, carryFrom = 1L)
    assert(SnapshotTable.admittedFiles(spark, table, 2L,
      Map("k" -> (0L, 19L))).toSet === Set(a, b))
    // Bounds pruning still binds on the surviving data rows.
    assert(SnapshotTable.admittedFiles(spark, table, 2L,
      Map("k" -> (0L, 5L))) === Seq(a))
  }

  test("multi-column zone maps prune on either dimension and reject unknown columns") {
    import spark.implicits._
    // Run the registered query for its table side effects.
    val rows = SourceOps.snapshotSkip2(spark, dir).collect()
      .map(r => r.getAs[String]("probe") -> r).toMap
    assert(rows.keySet === Set("orderkey", "custkey"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_files_read") < r.getAs[Long]("n_files_total"),
        s"probe ${r.getAs[String]("probe")} must actually skip files")
    }
    val table = graft.Scratch.dir("roundtrip_snapshot_skip2")
    // The same manifest serves both dimensions: each probe's planned
    // file set is exactly the paths its OWN column's zone map admits.
    val manifest = spark.read.parquet(s"$table/manifests/gen=1")
      .select("path", "key_col", "min_key", "max_key")
      .as[(String, String, Long, Long)].collect()
    assert(manifest.map(_._2).distinct.sorted === Seq("o_custkey", "o_orderkey"))
    val src = Tables.orders(spark, dir)
    for (column <- Seq("o_orderkey", "o_custkey")) {
      val maxV = src.agg(org.apache.spark.sql.functions.max(column)).as[Long].head()
      val (lo, hi) = (maxV / 4, maxV / 2)
      val admitted = manifest.filter { case (_, c, mn, mx) =>
        c == column && mn <= hi && mx >= lo
      }.map(_._1).toSet
      val pruned = SnapshotTable.readWhere(spark, table, 1L, column, lo, hi)
      assert(pruned.inputFiles.toSet === admitted, s"pruning on $column")
      // Sound: no matching row is lost to the file skip.
      assert(pruned.count() ===
        src.filter(col(column) >= lo && col(column) <= hi).count())
    }
    // A dimension the manifest never recorded must refuse, not all-admit.
    intercept[IllegalArgumentException] {
      SnapshotTable.readWhere(spark, table, 1L, "o_totalprice", 0L, 1L)
    }
  }

  test("expire deletes manifests first, orphans only, survivors intact") {
    val table = graft.Scratch.dir("expire_spec")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(orders.repartition(3), table, 1L)
    SnapshotTable.compact(spark, table, 1L, 2)
    val f1 = SnapshotTable.listFiles(spark, table, 1L)
    val f2 = SnapshotTable.listFiles(spark, table, 2L)
    assert(SnapshotTable.generations(spark, table) === Seq(1L, 2L))
    val (m, o) = SnapshotTable.expire(spark, table, keepFrom = 2L)
    assert((m, o) === ((1L, f1.size.toLong)), "gen 1's files are all orphans")
    assert(SnapshotTable.generations(spark, table) === Seq(2L))
    def exists(p: String): Boolean = new java.io.File(new java.net.URI(p).getPath).exists ||
      new java.io.File(p.stripPrefix("file:")).exists
    f1.foreach(p => assert(!exists(p), s"orphan $p must be deleted"))
    f2.foreach(p => assert(exists(p), s"survivor $p must remain"))
    // The surviving snapshot still serves the full content.
    assert(SnapshotTable.readAs(spark, table, 2L).count() === orders.count())
    // The expired generation is no longer resolvable.
    intercept[Exception](SnapshotTable.readAs(spark, table, 1L).count())
  }

  test("commitUpsert: seq-scoped tombstones replace in one commit; appends outrank; legacy deletes still sweep all") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_upsert_spec")
    def rows(t: String) = SnapshotTable.readMor(spark, table, gen = t.toLong, "k")
      .as[(Long, String)].collect().toSet
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$table/seed")
    SnapshotTable.commit(spark.read.parquet(s"$table/seed"), table, 1L)
    // One upsert commit: key 2's old row gone, new row visible — no
    // base file rewritten (gen 1's files carry verbatim).
    SnapshotTable.commitUpsert(Seq((2L, "B2")).toDF("k", "v"),
      table, 2L, "k", carryFrom = 1L)
    assert(rows("2") === Set((1L, "a"), (2L, "B2"), (3L, "c")))
    assert(SnapshotTable.listFiles(spark, table, 1L).toSet
      .subsetOf(SnapshotTable.listFiles(spark, table, 2L).toSet),
      "upsert must not rewrite base files")
    // A LATER plain append under the upserted key outranks the older
    // tombstone: both rows visible (append is not upsert).
    SnapshotTable.commit(Seq((2L, "b3")).toDF("k", "v"),
      table, 3L, carryFrom = Some(2L))
    assert(rows("3") === Set((1L, "a"), (2L, "B2"), (2L, "b3"), (3L, "c")))
    // Time travel: the pre-append upsert view is untouched.
    assert(rows("2") === Set((1L, "a"), (2L, "B2"), (3L, "c")))
    // A legacy (unstamped) delete keeps its whole-snapshot scope: it
    // sweeps EVERY row of the key, stamped or not.
    SnapshotTable.commitDeletes(Seq(2L).toDF("k"), table, 4L, carryFrom = 3L)
    assert(rows("4") === Set((1L, "a"), (3L, "c")))
    // Rollback carries the stamped manifest VERBATIM: the restored
    // view reproduces the upsert semantics exactly.
    SnapshotTable.rollback(spark, table, toGen = 3L, asGen = 5L)
    assert(rows("5") === Set((1L, "a"), (2L, "B2"), (2L, "b3"), (3L, "c")))
  }

  test("readMor across an evolved schema: upsert batches and appends that add a column union by name") {
    import spark.implicits._
    val table = graft.Scratch.dir("snapshot_upsert_evolve_spec")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$table/seed")
    SnapshotTable.commit(spark.read.parquet(s"$table/seed"), table, 1L)
    // The upsert batch itself carries an ADDED column: its seq class
    // has 3 columns, the carried base class has 2 — readMor must serve
    // NULL for the base rows' missing column, not throw.
    SnapshotTable.commitUpsert(Seq((2L, "B2", 7L)).toDF("k", "v", "extra"),
      table, 2L, "k", carryFrom = 1L)
    val g2 = SnapshotTable.readMor(spark, table, 2L, "k")
      .select("k", "v", "extra").as[(Long, String, Option[Long])]
      .collect().toSet
    assert(g2 === Set((1L, "a", None), (2L, "B2", Some(7L))))
    // A later evolved APPEND into the seq-carrying lineage reads the
    // same way (and the pre-append view stays untouched).
    SnapshotTable.commit(Seq((3L, "c", 9L, true)).toDF("k", "v", "extra", "flag"),
      table, 3L, carryFrom = Some(2L))
    val g3 = SnapshotTable.readMor(spark, table, 3L, "k")
      .select("k", "v", "extra", "flag")
      .as[(Long, String, Option[Long], Option[Boolean])].collect().toSet
    assert(g3 === Set((1L, "a", None, None), (2L, "B2", Some(7L), None),
      (3L, "c", Some(9L), Some(true))))
  }

  test("copy-on-write merge prunes to touched buckets and carries the rest") {
    // Run the registered query for its side effects, then dissect the
    // two manifests it produced.
    val out = SourceOps.snapshotMerge(spark, dir).collect()
    assert(out.map(_.getAs[Long]("gen")).toSeq === Seq(1L, 2L))
    val table = graft.Scratch.dir("roundtrip_snapshot_merge")
    val f1 = SnapshotTable.listFiles(spark, table, 1L)
    val f2 = SnapshotTable.listFiles(spark, table, 2L)
    def bucketOf(p: String): Long =
      "b=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    assert(f1.size === SourceOps.MergeBuckets)
    // Untouched buckets (0, 3) carry their gen-1 files VERBATIM; the
    // touched buckets (1 = updates, 2 = inserts) were rewritten.
    val carried = f1.filter(p => bucketOf(p) == 0L || bucketOf(p) == 3L)
    assert(carried.forall(f2.contains), "untouched files must carry over")
    val rewritten = f2.filterNot(f1.contains)
    assert(rewritten.map(bucketOf).toSet === Set(1L, 2L))
    assert(f1.filter(p => Set(1L, 2L)(bucketOf(p))).forall(!f2.contains(_)),
      "touched buckets' old files must not leak into gen 2")
    // The merge's rewrite scan read ONLY the touched gen-1 files.
    val touchedOld = f1.filter(p => Set(1L, 2L)(bucketOf(p)))
    val scanned = spark.read.parquet(touchedOld: _*).inputFiles.toSet
    assert(scanned === touchedOld.toSet)
    // Gen-2 content: updates flipped in place, inserts present, and
    // time travel to gen 1 shows neither.
    val g2 = SnapshotTable.readAs(spark, table, 2L)
    assert(g2.filter(col("o_orderstatus") === "U").count() ===
      g2.filter(col("o_orderkey") % SourceOps.MergeMod === 1
        && col("o_orderkey") < SourceOps.MergeInsertOffset).count())
    val g1 = SnapshotTable.readAs(spark, table, 1L)
    assert(g1.filter(col("o_orderstatus").isin("U", "I")).count() === 0L)
  }
  test("commit stamps stay strictly increasing under a frozen (same-ms) clock") {
    val table = graft.Scratch.dir("snapshot_spec_clock")
    val orders = Tables.orders(spark, dir).limit(10)
    val frozen = System.currentTimeMillis()
    val saved = SnapshotTable.commitClock
    SnapshotTable.commitClock = () => frozen
    try {
      SnapshotTable.commit(orders, table, 1L)
      SnapshotTable.commit(orders, table, 2L, carryFrom = Some(1L))
      SnapshotTable.commit(orders, table, 3L, carryFrom = Some(2L))
    } finally SnapshotTable.commitClock = saved
    // The writer monotonicizes (max(now, prev + 1)): three commits in
    // ONE clock millisecond must still publish strictly increasing
    // stamps, or TIMESTAMP AS OF's "latest committed <= ts" resolves
    // to the wrong snapshot.
    val stamps = SnapshotTable.stampedGenerations(spark, table)
    assert(stamps.map(_._1) === Seq(1L, 2L, 3L))
    assert(stamps.map(_._2) === Seq(frozen, frozen + 1L, frozen + 2L))
  }

  test("topNAdmitted prefix-sum matches the definitional per-candidate rescan") {
    import spark.implicits._
    // 14 single-file commits with random overlapping key ranges and
    // random null shares, then a zone-row generation over all files:
    // the O(n log n) prefix-sum form must reproduce the definitional
    // quadratic proof sum exactly — both directions, ties on the
    // proof bound included (strict gmx < mn / gmn > mx), plus an
    // unstatted candidate that can never be excluded.
    val table = graft.Scratch.dir("topn_equiv_spec")
    val rnd = new scala.util.Random(7)
    var gen = 0L
    val slices = (0 until 14).map { i =>
      val lo = rnd.nextInt(12)
      val width = rnd.nextInt(20)
      val n = 2 + rnd.nextInt(5)
      val vals = (0 until n).map(_ => (lo + rnd.nextInt(width + 1)).toLong)
      val nulls = rnd.nextInt(3)
      gen += 1
      SnapshotTable.commit(
        (vals.map(Option(_)) ++ Seq.fill(nulls)(Option.empty[Long]))
          .toDF("k").coalesce(1),
        table, gen, carryFrom = if (gen == 1L) None else Some(gen - 1))
      val path = (SnapshotTable.listFiles(spark, table, gen).toSet --
        (if (gen == 1L) Set.empty[String]
         else SnapshotTable.listFiles(spark, table, gen - 1).toSet)).head
      (path, "k", vals.min, vals.max)
    }
    SnapshotTable.publishStats(spark, table, gen + 1, slices)
    val statsGen = gen + 1

    // Reference recs exactly as topNAdmitted derives them (nonNull =
    // footer rows − footer nulls), read back from the manifest.
    val recs: Map[String, (Long, Long, Long)] = spark.read
      .parquet(s"$table/manifests/gen=$statsGen")
      .select("path", "min_key", "max_key", "n_rows", "n_nulls")
      .as[(String, Long, Long, Long, Long)].collect()
      .map { case (p, mn, mx, nr, nn) => p -> ((mn, mx, nr - nn)) }.toMap
    def naive(desc: Boolean, n: Int, cands: Seq[String]): Seq[String] =
      cands.filter { f =>
        recs.get(f) match {
          case None => true
          case Some((mn, mx, _)) =>
            cands.filter(_ != f).flatMap(recs.get)
              .filter { case (gmn, gmx, _) => if (desc) gmn > mx else gmx < mn }
              .map(_._3).sum < n.toLong
        }
      }
    val cands = slices.map(_._1) :+ s"$table/data/unstatted-ghost.parquet"
    for (desc <- Seq(false, true); n <- Seq(1, 2, 3, 5, 10, 25, 1000)) {
      val got = SnapshotTable.topNAdmitted(
        spark, table, statsGen, "k", desc, n, cands)
      assert(got === naive(desc, n, cands),
        s"desc=$desc n=$n: prefix-sum and definitional prune disagree")
      assert(got.contains(cands.last), "unstatted candidates never drop")
    }
  }

  test("mergedFooterSchema's per-file schema memo stays at its LRU cap") {
    val dir = graft.Scratch.dir("schema_memo_cap")
    spark.range(1).write.parquet(s"$dir/src")
    val file = java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(
      SnapshotTable.freshFiles(spark, s"$dir/src").head).toUri.getPath)
    // Hard links: more distinct paths than the cap, one footer.
    val links = (0 to SnapshotTable.FileSchemaCacheMax).map { i =>
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(dir, s"link-$i.parquet"), file).toString
    }
    // Four concurrent resolutions over disjoint quarters: the memo
    // stays exact under contention, and the footer reads overlap.
    import scala.concurrent.ExecutionContext.Implicits.global
    val schemas = scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(links.grouped(links.size / 4 + 1).toSeq)(
        g => scala.concurrent.Future(SnapshotTable.mergedFooterSchema(spark, g))),
      scala.concurrent.duration.Duration.Inf)
    assert(schemas.forall(_.fieldNames.toSeq == Seq("id")))
    assert(SnapshotTable.fileSchemaCacheSize === SnapshotTable.FileSchemaCacheMax)
  }
}
