package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable

/** The file-pruned row-level rewrite mechanics the `src_catalog_dml`
  * value gate cannot see: that a selective UPDATE's commit carries the
  * unscanned files — stats rows included, so later pruning keeps
  * working — VERBATIM; that no row of a pruned file is lost (the
  * regression the whole-snapshot publish + pruned scan combination
  * would silently cause); and that the commit targets the scan-time
  * base generation, so a concurrent commit landing mid-statement makes
  * the publish lose LOUDLY instead of being erased.
  */
class RowLevelRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val warehouse: String = {
    val wh = graft.Scratch.dir("rowlevel_spec_wh")
    spark.conf.set("spark.sql.catalog.rl_cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.rl_cat.warehouse", wh)
    wh
  }

  /** A 4-file key-range table (k in [0, 400), one file per 100-wide
    * slice) with per-file zone maps on `k`.
    */
  private def statsTable(name: String): (String, Seq[String]) = {
    import spark.implicits._
    val t = s"$warehouse/$name"
    val gen1Dir = s"$t/data/gen=1"
    (0L until 400L).map(k => (k, k * 10)).toDF("k", "v")
      .withColumn("s", expr("k div 100").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val files = spark.read.parquet(gen1Dir).inputFiles.toSeq
    assert(files.size == 4)
    SnapshotTable.publishStats(spark, t, 1L,
      SnapshotTable.footerStats(spark, files, Seq("k")))
    (t, files)
  }

  test("selective UPDATE rewrites only admitted files; the rest carry verbatim with stats") {
    val (t, files1) = statsTable("t_upd")
    spark.sql("UPDATE rl_cat.t_upd SET v = v + 1 WHERE k >= 250 AND k <= 260")
    assert(SnapshotTable.commitAction(spark, t, 2L).contains("update"))

    // Zone maps admit only the [200, 300) slice: exactly one file
    // rewrites, three carry byte-identically (same paths).
    val files2 = SnapshotTable.listFiles(spark, t, 2L)
    val carried = files1.toSet.intersect(files2.toSet)
    assert(carried.size == 3,
      s"expected 3 verbatim carries, got ${carried.size}")
    assert(files2.size == files1.size || files2.size == carried.size + 1)

    // No row lost, matched rows updated — the full post-UPDATE content.
    val got = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM rl_cat.t_upd").head()
    assert(got.getLong(0) === 400L)
    assert(got.getLong(1) === (0L until 400L).map(_ * 10).sum + 11L)

    // Carried stats rows still PRUNE: a range probe into an untouched
    // slice excludes the OTHER carried slices (the stat-less fresh
    // file admits conservatively, the documented best-effort contract).
    val admitted = SnapshotTable.admittedFiles(spark, t, 2L,
      Map("k" -> ((50L, 60L)))).toSet
    val carriedAdmitted = admitted.intersect(carried)
    assert(carriedAdmitted.size == 1,
      s"untouched slice must keep pruning via its carried stats; " +
        s"carried-and-admitted: $carriedAdmitted")
  }

  test("UPDATE matching nothing admissible republishes the same content") {
    val (t, files1) = statsTable("t_noop")
    spark.sql("UPDATE rl_cat.t_noop SET v = 0 WHERE k >= 5000")
    // All four files' bounds exclude the predicate: zero files scanned,
    // zero rewritten, every manifest row carries.
    val files2 = SnapshotTable.listFiles(spark, t, 2L)
    assert(files2.toSet == files1.toSet)
    assert(spark.sql("SELECT sum(v) AS sv FROM rl_cat.t_noop").head().getLong(0)
      === (0L until 400L).map(_ * 10).sum)
  }

  /** Manually-driven operation halves for the commit-protocol tests. */
  private def opFor(t: String,
      cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
      : SnapshotRowLevelOperation =
    new SnapshotRowLevelOperation(t, SnapshotSource.latestSchema(t),
      new org.apache.spark.sql.connector.write.RowLevelOperationInfo {
        override def command() = cmd
        override def options() = CaseInsensitiveStringMap.empty()
      })

  private def stagedFile(name: String): String = {
    import spark.implicits._
    val dir = graft.Scratch.dir(name)
    Seq((1L, 2L)).toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).inputFiles.head
  }

  test("a concurrent commit mid-statement makes the rewrite lose loudly") {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val (t, _) = statsTable("t_race")
    val op = opFor(t, Command.UPDATE)
    // Scan plans against base generation 1...
    op.newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toBatch.planInputPartitions()
    // ...then a concurrent writer lands generation 2 first.
    import spark.implicits._
    SnapshotTable.commit(Seq((9000L, 1L)).toDF("k", "v"), t, 2L,
      carryFrom = Some(1L))
    val write = new SnapshotReplaceWrite(t, SnapshotSource.latestSchema(t),
      "update", op)
    val e = intercept[IllegalStateException] {
      write.commit(Array(SnapshotWriteMessage(stagedFile("race_staged"))))
    }
    assert(e.getMessage.contains("already committed") ||
      e.getMessage.contains("concurrently"))
    // The winner's lineage is intact: gen 2 still serves its content.
    assert(SnapshotTable.readAs(spark, t, 2L).count() === 401L)
  }

  test("a rewrite whose scan never planned refuses to commit") {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val (t, _) = statsTable("t_unplanned")
    val op = opFor(t, Command.UPDATE)
    val write = new SnapshotReplaceWrite(t, SnapshotSource.latestSchema(t),
      "update", op)
    val e = intercept[IllegalStateException] {
      write.commit(Array(SnapshotWriteMessage(stagedFile("unplanned_staged"))))
    }
    assert(e.getMessage.contains("before its scan planned"))
    // Nothing published: generation 1 is still the latest.
    assert(SnapshotTable.generations(spark, t) === Seq(1L))
  }

  test("runtime V2 filters prune the planned file set through zone maps") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val (t, _) = statsTable("t_runtime")
    val table = new SnapshotSourceTable(t, SnapshotSource.latestSchema(t))
    val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val rt = scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
    // The stats column is advertised as filterable.
    assert(rt.filterAttributes().map(_.fieldNames().mkString(".")).toSeq
      === Seq("k"))
    val batch = scan.toBatch
    assert(batch.planInputPartitions().length === 4)
    // A build-side-derived point filter arrives AFTER compile-time
    // planning; the re-planned partitions cover only the matching slice.
    rt.filter(Array(new Predicate("=",
      Array(Expressions.column("k"), Expressions.literal(250L)))))
    assert(batch.planInputPartitions().length === 1)
    // An unsatisfiable runtime conjunction plans zero files.
    rt.filter(Array(new Predicate("AND", Array(
      new Predicate("=",
        Array(Expressions.column("k"), Expressions.literal(250L))),
      new Predicate("=",
        Array(Expressions.column("k"), Expressions.literal(50L)))))))
    assert(batch.planInputPartitions().length === 0)
  }

  test("DML on a time-travel-pinned table is refused") {
    statsTable("t_pinned")
    val e = intercept[Exception] {
      spark.sql("UPDATE rl_cat.t_pinned VERSION AS OF 1 SET v = 0 WHERE k = 1")
    }
    // Either Spark's parser/analyzer refuses DML-on-time-travel or the
    // table's own builder guard fires; both are loud.
    assert(e != null)
  }

  test("MATCHED-only MERGE prunes files by the source's runtime keys") {
    import spark.implicits._
    val (t, files1) = statsTable("t_merge_rt")
    // The ON condition is a pure equijoin — NOTHING is statically
    // pushable, so only the RUNTIME group filter (the matching rows'
    // keys, planned as a dynamic subquery) can prune files here.
    (250L to 260L).map(k => (k, k + 1000000L)).toDF("k", "nv")
      .createOrReplaceTempView("merge_rt_src")
    spark.sql(
      """MERGE INTO rl_cat.t_merge_rt t USING merge_rt_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    assert(SnapshotTable.commitAction(spark, t, 2L).contains("merge"))
    // Source keys live in ONE 100-wide slice: three files carry
    // verbatim, only the [200, 300) slice rewrites.
    val files2 = SnapshotTable.listFiles(spark, t, 2L)
    val carried = files1.toSet.intersect(files2.toSet)
    assert(carried.size == 3,
      s"runtime keys must prune to one slice; carried: ${carried.size}")
    // Content exact: matched rows updated, everything else untouched.
    val got = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM rl_cat.t_merge_rt").head()
    val expected = (0L until 400L).map(_ * 10).sum +
      (250L to 260L).map(k => k + 1000000L - k * 10).sum
    assert(got.getLong(0) === 400L)
    assert(got.getLong(1) === expected)
  }

  test("UPDATE maintains the bloom sidecar: point probes still prune after DML") {
    import spark.implicits._
    val t = s"$warehouse/t_upd_bloom"
    // Bucket-by-residue layout: every file spans the whole k domain,
    // so zone maps can never help and pruning rests on the bloom
    // sidecar alone.
    val gen1Dir = s"$t/data/gen=1"
    (0L until 400L).map(k => (k, k * 10)).toDF("k", "v")
      .withColumn("b", pmod(col("k"), lit(4L)).cast("int"))
      .repartition(col("b"))
      .write.partitionBy("b").mode("overwrite").parquet(gen1Dir)
    val files1 = spark.read.parquet(gen1Dir).inputFiles.toSeq
    assert(files1.size == 4)
    SnapshotTable.publishAppend(spark, t, 1L, files1.sorted, carryFrom = None)
    SnapshotTable.writeBloomIndex(spark, t, "k", files1)

    // The DML rewrite: the matching keys cover every residue bucket
    // (1, 6, 11, 12 mod 16 hit b = 1, 2, 3, 0), so even the runtime
    // group filter admits all four files and every file rewrites — the
    // worst case for index decay.
    spark.sql(
      "UPDATE rl_cat.t_upd_bloom SET v = v + 1 WHERE k % 16 IN (1, 6, 11, 12)")
    val files2 = SnapshotTable.listFiles(spark, t, 2L)
    assert(files2.toSet.intersect(files1.toSet).isEmpty,
      "the all-bucket UPDATE must have replaced every file")
    assert(files2.size >= 2, s"need >1 replacement file; got ${files2.size}")

    // A point probe through the connector must plan FEWER files than
    // the manifest admits — the replacement files were indexed at the
    // rewrite commit (pre-fix they were unindexed and every probe
    // degraded to admit-everything).
    val lookup = spark.read
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", t).load()
      .filter(col("k") === 37L).select(col("v"))
    val planned = lookup.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.sum
    assert(lookup.as[Long].collect().toSeq === Seq(370L))
    assert(planned < files2.size,
      s"bloom must prune the probe below the manifest's ${files2.size} files; " +
        s"planned $planned")
  }

  test("MERGE with a NOT-MATCHED-BY-SOURCE arm never runtime-prunes") {
    import spark.implicits._
    val (t, files1) = statsTable("t_merge_bysrc")
    Seq((250L, 0L)).toDF("k", "nv").createOrReplaceTempView("merge_bysrc_src")
    // The BY-SOURCE arm touches every group the source never names —
    // Spark degrades the group filter to TRUE, so no runtime filter
    // reaches the scan and every file rewrites.
    spark.sql(
      """MERGE INTO rl_cat.t_merge_bysrc t USING merge_bysrc_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 1""".stripMargin)
    val files2 = SnapshotTable.listFiles(spark, t, 2L)
    assert(files1.toSet.intersect(files2.toSet).isEmpty,
      "every file is touched by the BY-SOURCE arm and must rewrite")
    // Content exact: the one matched key zeroed, all 399 others set
    // to 1 — the rows a wrongly-injected runtime filter would have
    // left untouched in carried files.
    val got = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv FROM rl_cat.t_merge_bysrc").head()
    assert(got.getLong(0) === 400L)
    assert(got.getLong(1) === 399L)
  }

  test("the rewrite scan never skips row groups: unmatched rows of a narrow UPDATE and DELETE survive") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val n = 20000L
    // One SORTED file of many tiny row groups behind a path-only
    // manifest: the narrow range admits the file, and the pushed
    // `k` bounds would exclude every row group but one or two.
    def rowGroupTable(name: String): String = {
      val t = s"$warehouse/$name"
      val file = s"$t/data/gen=1/part-00000.parquet"
      val msg = SnapshotSource.messageTypeOf(StructType(Seq(
        StructField("k", LongType), StructField("v", LongType))))
      val conf = new org.apache.hadoop.conf.Configuration(
        spark.sessionState.newHadoopConf())
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, conf)
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(file))
        .withConf(conf).withRowGroupSize(4096L).build()
      val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      (0L until n).foreach { k =>
        val g = fac.newGroup()
        g.add("k", k)
        g.add("v", k * 2)
        w.write(g)
      }
      w.close()
      val groups = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(file), conf))
        try r.getFooter.getBlocks.size finally r.close()
      }
      assert(groups >= 4, s"fixture must span several row groups; got $groups")
      SnapshotTable.publish(spark, t, 1L, Seq(file))
      t
    }
    def countSum(table: String) = {
      val r = spark.sql(s"SELECT count(*), sum(v) FROM rl_cat.$table").head()
      (r.getLong(0), r.getLong(1))
    }
    val base = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
    def model(df: org.apache.spark.sql.DataFrame) = {
      val r = df.selectExpr("count(*)", "sum(v)").head()
      (r.getLong(0), r.getLong(1))
    }

    rowGroupTable("t_rg_upd")
    spark.sql("UPDATE rl_cat.t_rg_upd SET v = v + 1 WHERE k >= 100 AND k <= 200")
    assert(countSum("t_rg_upd") === model(base.selectExpr("k",
      "CASE WHEN k BETWEEN 100 AND 200 THEN v + 1 ELSE v END AS v")))

    // The hash conjunct has no V2 form, so the DELETE cannot take the
    // metadata path and runs as a row-level rewrite whose scan is
    // still offered the `k` bounds.
    val t = rowGroupTable("t_rg_del")
    val plans = SnapshotSource.planHistory(t).size
    val cond = "k >= 100 AND k <= 200 AND hash(k) % 2 = 0"
    spark.sql(s"DELETE FROM rl_cat.t_rg_del WHERE $cond")
    assert(SnapshotSource.planHistory(t).size > plans,
      "the DELETE must run through the row-level rewrite scan")
    assert(countSum("t_rg_del") === model(base.where(s"NOT ($cond)")))
  }
}
