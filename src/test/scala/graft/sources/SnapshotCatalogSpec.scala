package graft.sources

import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** The catalog mechanics the `src_catalog_sql` value gate cannot see:
  * identifier resolution and listing, the refused DDL surface, version
  * validation, and the pinned-generation SCHEMA contract (a
  * `VERSION AS OF` read resolves the columns that snapshot carried,
  * not today's).
  */
class SnapshotCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** One catalog over one warehouse for the whole suite (catalog
    * instances are cached per name; tables land as subdirectories).
    */
  private lazy val (cat, warehouse): (TableCatalog, String) = {
    val wh = graft.Scratch.dir("catalog_spec_wh")
    spark.conf.set("spark.sql.catalog.spec_cat",
      classOf[graft.streaming.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.spec_cat.warehouse", wh)
    (spark.sessionState.catalogManager.catalog("spec_cat")
      .asInstanceOf[TableCatalog], wh)
  }

  private def ident(name: String) = Identifier.of(Array.empty[String], name)

  test("resolution: committed dirs are tables, debris is invisible") {
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    SnapshotTable.commit(orders.repartition(2), s"$warehouse/t_real", 1L)
    // A directory with no committed generation must not resolve.
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$warehouse/t_debris"))

    assert(cat.tableExists(ident("t_real")))
    assert(!cat.tableExists(ident("t_debris")))
    assert(!cat.tableExists(ident("t_missing")))
    val listed = cat.listTables(Array.empty).map(_.name()).toSet
    assert(listed.contains("t_real") && !listed.contains("t_debris"))
    intercept[NoSuchTableException](cat.loadTable(ident("t_missing")))
    // SQL reaches the committed content through the catalog name.
    assert(spark.sql("SELECT count(*) AS c FROM spec_cat.t_real")
      .head().getLong(0) === orders.count())
  }

  test("VERSION AS OF pins the generation's schema across evolution") {
    val t = s"$warehouse/t_evolve"
    val base = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    SnapshotTable.commit(base.filter(col("o_orderkey") % 2 === 0).repartition(1), t, 1L)
    // gen 2 appends rows CARRYING AN ADDED COLUMN.
    SnapshotTable.commit(
      base.filter(col("o_orderkey") % 2 =!= 0)
        .withColumn("o_flag", lit(7L)).repartition(1),
      t, 2L, carryFrom = Some(1L))

    val v1 = cat.loadTable(ident("t_evolve"), "1")
    val v2 = cat.loadTable(ident("t_evolve"), "2")
    assert(!v1.schema().fieldNames.contains("o_flag"),
      "gen 1 never carried the evolved column")
    assert(v2.schema().fieldNames.contains("o_flag"))
    // And through SQL: the travel read serves the old shape; the
    // merged latest serves nulls for pre-evolution rows.
    assert(spark.sql("SELECT * FROM spec_cat.t_evolve VERSION AS OF 1")
      .columns.toSeq === Seq("o_orderkey", "o_orderstatus"))
    val flags = spark.sql(
      "SELECT count(o_flag) AS with_flag, count(*) AS total FROM spec_cat.t_evolve")
      .head()
    assert(flags.getLong(0) > 0 && flags.getLong(0) < flags.getLong(1),
      "latest read merges: new rows carry the flag, old rows null it")
  }

  test("a catalog table streams: readStream.table tails the generations") {
    val t = s"$warehouse/t_stream"
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    SnapshotTable.commit(orders.filter(col("o_orderkey") % 2 === 0).repartition(1), t, 1L)
    SnapshotTable.commit(orders.filter(col("o_orderkey") % 2 =!= 0).repartition(1),
      t, 2L, carryFrom = Some(1L))
    val ckpt = graft.Scratch.dir("catalog_stream_ckpt")
    val q = spark.readStream.table("spec_cat.t_stream")
      .writeStream.format("memory").queryName("catalog_tail")
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    // The micro-batch tail through the catalog-resolved table serves
    // the full committed content.
    assert(spark.table("catalog_tail").count() === orders.count())
  }

  test("SQL DELETE is a copy-on-write commit; history still time-travels") {
    val t = s"$warehouse/t_del"
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    SnapshotTable.commit(orders.repartition(1), t, 1L)
    val total = orders.count()
    val evens = orders.filter(col("o_orderkey") % 2 === 0).count()
    spark.sql("DELETE FROM spec_cat.t_del WHERE o_orderkey % 2 = 0")
    assert(spark.sql("SELECT count(*) FROM spec_cat.t_del").head().getLong(0)
      === total - evens)
    // The pre-delete snapshot is untouched and still serves via travel.
    assert(spark.sql("SELECT count(*) FROM spec_cat.t_del VERSION AS OF 1")
      .head().getLong(0) === total)
    // The hop records its action, so the streaming skipRewrites guard
    // can never mistake the delete for a content-neutral rewrite.
    assert(SnapshotTable.commitAction(spark, t, 2L).contains("delete"))
  }

  test("SQL DELETE keeps rows where the predicate is NULL (three-valued logic)") {
    import spark.implicits._
    val t = s"$warehouse/t_nulldel"
    SnapshotTable.commit(
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]))
        .toDF("k", "s"), t, 1L)
    spark.sql("DELETE FROM spec_cat.t_nulldel WHERE s = 'a'")
    // Only the TRUE-matching row goes; the NULL-predicate row survives
    // (not(NULL) is NULL — a bare negation filter would drop it too).
    assert(spark.sql("SELECT k FROM spec_cat.t_nulldel ORDER BY k")
      .as[Long].collect().toSeq === Seq(2L, 3L))
  }

  test("SQL DELETE prunes files by zone maps: untouched files carry verbatim") {
    import spark.implicits._
    val t = s"$warehouse/t_pruned_del"
    def writeOne(range: Range, name: String): String = {
      val dir = s"$t/data/gen=1/$name"
      range.map(_.toLong).toDF("k").repartition(1).write.parquet(dir)
      spark.read.parquet(dir).inputFiles.head
    }
    val fa = writeOne(0 until 100, "a")
    val fb = writeOne(100 until 200, "b")
    SnapshotTable.publishStats(spark, t, 1L,
      Seq((fa, "k", 0L, 99L), (fb, "k", 100L, 199L)))

    spark.sql("DELETE FROM spec_cat.t_pruned_del WHERE k >= 150")

    // Content is exact: rows 150..199 gone.
    val r = spark.sql(
      "SELECT count(*), sum(k) FROM spec_cat.t_pruned_del").head()
    assert(r.getLong(0) === 150L && r.getLong(1) === (0L until 150L).sum)
    // The zone-disjoint file carried VERBATIM (same path); the admitted
    // file was rewritten into a fresh one.
    val files2 = SnapshotTable.listFiles(spark, t, 2L).toSet
    assert(files2.contains(fa), "untouched file must carry by path")
    assert(!files2.contains(fb), "affected file must be rewritten")
    // Its stats row survived the carry: gen 2 still prunes the carried
    // file on k (the fresh file has no stats row and is admitted
    // conservatively, as the zone-map contract documents).
    val admitted = SnapshotTable.admittedFiles(spark, t, 2L,
      Map("k" -> ((150L, 199L))))
    assert(!admitted.contains(fa),
      "the carried stats row must still exclude the untouched file")
    assert(SnapshotTable.commitAction(spark, t, 2L).contains("delete"))
    // History is untouched.
    assert(spark.sql(
      "SELECT count(*) FROM spec_cat.t_pruned_del VERSION AS OF 1")
      .head().getLong(0) === 200L)
  }

  test("SQL DELETE prunes files by bloom sidecars when zone maps cannot") {
    import spark.implicits._
    // (key type, key n as that type, the literal for n = 42). Only the
    // integer keys probe the sidecar: it hashes `cast(k AS STRING)`,
    // which for DATE/TIMESTAMP is not the literal's epoch number, so
    // those deletes must fall back to rewriting the admitted files.
    val keyTypes = Seq(
      ("BIGINT", "n", "42"),
      ("INT", "CAST(n AS INT)", "42"),
      ("DATE", "date_add(DATE '2024-01-01', CAST(n AS INT))", "DATE '2024-02-12'"),
      ("TIMESTAMP", "timestamp_seconds(n)", "TIMESTAMP '1970-01-01 00:00:42'"))
    for ((tpe, keyOf, lit42) <- keyTypes) withClue(s"$tpe key: ") {
      val name = s"t_bloom_del_${tpe.toLowerCase}"
      val t = s"$warehouse/$name"
      // Interleaved keys: BOTH files span the whole key range, so zone
      // maps admit everything and only the bloom point probe can skip.
      def writeOne(ns: Seq[Long], part: String): String = {
        val dir = s"$t/data/gen=1/$part"
        ns.toDF("n").selectExpr(s"$keyOf AS k", "n * 2 AS v")
          .repartition(1).write.parquet(dir)
        spark.read.parquet(dir).inputFiles.head
      }
      val fa = writeOne(0L until 200L by 2, "a")
      val fb = writeOne(1L until 200L by 2, "b")
      SnapshotTable.publish(spark, t, 1L, Seq(fa, fb))
      SnapshotTable.writeBloomIndex(spark, t, "k", Seq(fa, fb))

      spark.sql(s"DELETE FROM spec_cat.$name WHERE k = $lit42")

      if (tpe == "BIGINT" || tpe == "INT") {
        val files2 = SnapshotTable.listFiles(spark, t, 2L).toSet
        assert(files2.contains(fb), "the probe-negative file must carry by path")
        assert(!files2.contains(fa), "the probe-positive file must be rewritten")
      }
      assert(spark.sql(s"SELECT count(*) FROM spec_cat.$name")
        .head().getLong(0) === 199L)
      assert(spark.sql(s"SELECT count(*) FROM spec_cat.$name WHERE k = $lit42")
        .head().getLong(0) === 0L)
    }
  }

  test("SQL UPDATE and MERGE rewrite copy-on-write with actions recorded") {
    import spark.implicits._
    val t = s"$warehouse/t_dml"
    SnapshotTable.commit(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), t, 1L)
    spark.sql("UPDATE spec_cat.t_dml SET v = v + 100 WHERE k >= 2")
    assert(spark.sql("SELECT v FROM spec_cat.t_dml ORDER BY k")
      .as[Long].collect().toSeq === Seq(10L, 120L, 130L))
    assert(SnapshotTable.commitAction(spark, t, 2L).contains("update"))
    Seq((2L, 999L), (4L, 40L)).toDF("k", "v")
      .createOrReplaceTempView("spec_dml_src")
    spark.sql(
      """MERGE INTO spec_cat.t_dml tgt USING spec_dml_src src ON tgt.k = src.k
        |WHEN MATCHED THEN UPDATE SET v = src.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT k, v FROM spec_cat.t_dml ORDER BY k")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 10L), (2L, 999L), (3L, 130L), (4L, 40L)))
    assert(SnapshotTable.commitAction(spark, t, 3L).contains("merge"))
    // Every pre-mutation snapshot still serves verbatim.
    assert(spark.sql("SELECT sum(v) FROM spec_cat.t_dml VERSION AS OF 1")
      .head().getLong(0) === 60L)
    assert(spark.sql("SELECT sum(v) FROM spec_cat.t_dml VERSION AS OF 2")
      .head().getLong(0) === 260L)
  }

  test("version validation and the refused surfaces fail loudly") {
    val ex = intercept[IllegalArgumentException](
      cat.loadTable(ident("t_real"), "99"))
    assert(ex.getMessage.contains("generation 99"))
    intercept[IllegalArgumentException](cat.loadTable(ident("t_real"), "v1.2"))
    // TIMESTAMP AS OF before the first commit: nothing to serve.
    val tsEx = intercept[IllegalArgumentException](
      cat.loadTable(ident("t_real"), 12345L))
    assert(tsEx.getMessage.contains("precedes the first commit"))
    intercept[UnsupportedOperationException](cat.dropTable(ident("t_real")))
    intercept[UnsupportedOperationException](
      cat.renameTable(ident("t_real"), ident("t_other")))
    // CREATE TABLE through SQL routes to the refused createTable.
    val sqlEx = intercept[Exception](
      spark.sql("CREATE TABLE spec_cat.t_new (a BIGINT) USING parquet"))
    assert(sqlEx.getMessage.contains("commit command")
      || Option(sqlEx.getCause).exists(_.getMessage.contains("commit command")))
    // TRUNCATE would commit an empty, reader-breaking generation.
    val trEx = intercept[Exception](
      spark.sql("TRUNCATE TABLE spec_cat.t_real"))
    assert((trEx.getMessage + Option(trEx.getCause).fold("")(_.getMessage))
      .contains("expire/vacuum"))
  }

  test("TIMESTAMP AS OF resolves the latest generation committed <= ts") {
    import spark.implicits._
    val t = s"$warehouse/t_ts"
    SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v"), t, 1L)
    SnapshotTable.commit(Seq((2L, 20L)).toDF("k", "v"), t, 2L,
      carryFrom = Some(1L))
    val ts1 = SnapshotTable.commitTimestamp(spark, t, 1L).get
    val ts2 = SnapshotTable.commitTimestamp(spark, t, 2L).get
    // Monotonic stamping: back-to-back commits never share a stamp.
    assert(ts2 > ts1)
    // Gen 1's exact stamp serves gen 1; gen 2's (and anything later)
    // serves gen 2 — through the SQL surface, micros from the marker.
    def countAt(micros: Long): Long = spark.sql(
      s"SELECT count(*) FROM spec_cat.t_ts TIMESTAMP AS OF timestamp_micros($micros)")
      .head().getLong(0)
    assert(countAt(ts1 * 1000L) === 1L)
    assert(countAt(ts2 * 1000L) === 2L)
    assert(countAt(ts2 * 1000L + 60L * 1000000L) === 2L)
    // Between the stamps: still gen 1 (latest committed <= ts).
    if (ts2 > ts1 + 1) assert(countAt((ts1 + 1) * 1000L) === 1L)
  }

  test("TIMESTAMP AS OF refuses a lineage with unstamped manifests") {
    import spark.implicits._
    val t = s"$warehouse/t_ts_legacy"
    SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v"), t, 1L)
    SnapshotTable.commit(Seq((2L, 20L)).toDF("k", "v"), t, 2L,
      carryFrom = Some(1L))
    // Simulate a pre-recording manifest: strip gen 1's stamp marker.
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m1 = new org.apache.hadoop.fs.Path(s"$t/manifests/gen=1")
    val marker = fs.listStatus(m1).map(_.getPath)
      .find(_.getName.startsWith(".ts=")).get
    fs.delete(marker, false)
    val ts2 = SnapshotTable.commitTimestamp(spark, t, 2L).get
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM spec_cat.t_ts_legacy TIMESTAMP AS OF timestamp_micros(${ts2 * 1000L})")
      .collect())
    assert((e.getMessage + Option(e.getCause).fold("")(_.getMessage))
      .contains("predate commit-time recording"),
      s"part-resolving a part-stamped lineage must refuse; got $e")
    // VERSION AS OF still serves the same lineage.
    assert(spark.sql(
      "SELECT count(*) FROM spec_cat.t_ts_legacy VERSION AS OF 1")
      .head().getLong(0) === 1L)
  }

  test("an IO failure while listing a table surfaces, not NoSuchTable") {
    // A warehouse on an unregistered scheme: generations() cannot list
    // it — the failure must PROPAGATE as the filesystem error instead
    // of masquerading as "table does not exist" (the catch-all that
    // used to turn transient IO outages into silent invisibility).
    spark.conf.set("spark.sql.catalog.badfs_cat",
      classOf[graft.streaming.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.badfs_cat.warehouse", "nofs://wh")
    try {
      val bad = spark.sessionState.catalogManager.catalog("badfs_cat")
        .asInstanceOf[TableCatalog]
      val e = intercept[Exception](bad.tableExists(ident("t_any")))
      assert(!e.isInstanceOf[NoSuchTableException])
      assert(e.getMessage.toLowerCase.contains("nofs"))
    } finally {
      // The broken catalog must not outlive this test in the SHARED
      // session (a later catalog enumeration would trip over it).
      spark.conf.unset("spark.sql.catalog.badfs_cat")
      spark.conf.unset("spark.sql.catalog.badfs_cat.warehouse")
    }
  }

  test("stored procedures: listing, unknown names, and wrong namespaces") {
    import spark.implicits._
    // Force the suite's catalog registration (lazy) before SQL names it.
    val _ = warehouse
    // Listing through SQL enumerates exactly the maintenance surface.
    val listed = spark.sql("SHOW PROCEDURES IN spec_cat.system")
      .collect().map(r => r.getString(r.fieldIndex("procedure_name"))).toSet
    assert(Set("compact", "expire", "expire_before", "history", "rollback",
      "vacuum").subsetOf(listed))
    // Unknown procedure and wrong namespace fail loudly.
    val unknown = intercept[Exception](
      spark.sql("CALL spec_cat.system.no_such_proc('x')"))
    assert((unknown.getMessage +
      Option(unknown.getCause).fold("")(_.getMessage))
      .contains("unknown snapshot procedure"))
    val badNs = intercept[Exception](
      spark.sql("CALL spec_cat.compact('x', 1, 2)"))
    assert(badNs != null)
    // A procedure against a non-table target refuses with a diagnostic.
    val noTable = intercept[Exception](
      spark.sql("CALL spec_cat.system.history('no_such_table')"))
    assert((noTable.getMessage +
      Option(noTable.getCause).fold("")(_.getMessage))
      .contains("not a committed snapshot table"))
    // history returns the real lineage through SQL.
    val t = s"$warehouse/t_proc_hist"
    SnapshotTable.commit(Seq((1L, 2L)).toDF("k", "v"), t, 1L)
    SnapshotTable.commit(Seq((2L, 3L)).toDF("k", "v"), t, 2L,
      carryFrom = Some(1L))
    val h = spark.sql("CALL spec_cat.system.history('t_proc_hist')")
      .orderBy("generation").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(h.forall(_.getString(1) == "append"))
    assert(h.map(_.getLong(2)).sliding(2).forall(p => p(0) < p(1)),
      "history commit stamps must be strictly increasing")
  }

  test("INSERT OVERWRITE replaces the whole table; empty results empty it") {
    import spark.implicits._
    val t = s"$warehouse/t_overwrite"
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t, 1L)
    Seq((7L, 70L), (8L, 80L), (9L, 90L)).toDF("k", "v")
      .createOrReplaceTempView("ow_src")
    spark.sql("INSERT OVERWRITE spec_cat.t_overwrite SELECT * FROM ow_src")
    assert(spark.sql("SELECT sum(k) FROM spec_cat.t_overwrite")
      .head().getLong(0) === 24L)
    // History is intact, and the hop records its non-neutral action.
    assert(spark.sql("SELECT sum(k) FROM spec_cat.t_overwrite VERSION AS OF 1")
      .head().getLong(0) === 3L)
    assert(SnapshotTable.commitAction(spark, t, 2L).contains("overwrite"))
    // An overwrite whose query yields no rows EMPTIES the table — the
    // standard SQL/Delta/Iceberg overwrite semantic — while the reader
    // contracts that require files keep holding through one zero-row
    // schema-carrying husk.
    spark.sql(
      "INSERT OVERWRITE spec_cat.t_overwrite SELECT * FROM ow_src WHERE k > 100")
    assert(SnapshotTable.generations(spark, t) === Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT count(*) AS n FROM spec_cat.t_overwrite")
      .head().getLong(0) === 0L)
    // Schema inference still serves (the husk's footer carries it).
    assert(spark.table("spec_cat.t_overwrite").schema.fieldNames.toSeq
      === Seq("k", "v"))
    assert(SnapshotTable.listFiles(spark, t, 3L).size === 1)
    // History still serves the pre-overwrite snapshots.
    assert(spark.sql("SELECT sum(k) FROM spec_cat.t_overwrite VERSION AS OF 2")
      .head().getLong(0) === 24L)
  }

  test("scan statistics let Catalyst auto-broadcast a small catalog table") {
    import spark.implicits._
    val t = s"$warehouse/t_small_dim"
    SnapshotTable.commit(
      (1L to 50L).map(k => (k, s"d$k")).toDF("k", "name"), t, 1L)
    spark.range(3000000L).selectExpr("id % 50 + 1 AS k")
      .createOrReplaceTempView("stats_facts")
    // No hint anywhere: the connector's post-pruning size estimate is
    // what makes the dimension side broadcastable.
    val df = spark.sql(
      "SELECT count(*) AS n FROM stats_facts f JOIN spec_cat.t_small_dim d ON f.k = d.k")
    assert(df.head().getLong(0) === 3000000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a 50-row catalog table must auto-broadcast; got:\n$plan")
    // The estimate came from the MANIFEST's recorded per-file stats —
    // zero per-file FS/footer round trips at scan planning, the
    // property that keeps a 100k-file table's planning flat.
    assert(graft.streaming.SnapshotSource.lastStatsFromManifest(t)
      === Some(true))
  }

  test("manifest stats match footer truth; legacy manifests fall back per file") {
    import spark.implicits._
    val t = s"$warehouse/t_stats_legacy"
    SnapshotTable.commit(
      (1L to 60L).map(k => (k, s"v$k")).toDF("k", "v").repartition(3), t, 1L)
    // Recorded rows/bytes equal the footers they were taken from.
    val rec = SnapshotTable.recordedFileStats(spark, t, 1L)
    val truth = SnapshotTable.fileMeta(spark,
      SnapshotTable.listFiles(spark, t, 1L))
    assert(truth.nonEmpty)
    truth.foreach { case (p, n, b) =>
      assert(rec(p) === ((Some(n), Some(b))), s"recorded stats of $p")
    }
    // The files metadata relation is served from the same manifest.
    val inv = spark.sql(s"SELECT sum(n_rows) AS n, sum(bytes) AS b " +
      s"FROM spec_cat.t_stats_legacy.files").head()
    assert(inv.getLong(0) === 60L)
    assert(inv.getLong(1) === truth.map(_._3).sum)

    // LEGACY lineage: strip the manifest back to the bare (path) form —
    // planning statistics must still serve (per-file fallback), and the
    // telemetry must say so.
    val mdir = new org.apache.hadoop.fs.Path(s"$t/manifests/gen=1")
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = graft.Scratch.dir("legacy_manifest_rewrite")
    spark.read.parquet(mdir.toString).select("path")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    fs.listStatus(mdir).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .foreach(p => fs.delete(p, false))
    new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(new org.apache.hadoop.fs.Path(tmp)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(mdir, p.getName)))

    spark.range(100000L).selectExpr("id % 60 + 1 AS k")
      .createOrReplaceTempView("legacy_facts")
    val df = spark.sql("SELECT count(*) AS n FROM legacy_facts f " +
      "JOIN spec_cat.t_stats_legacy d ON f.k = d.k")
    assert(df.head().getLong(0) === 100000L)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the legacy fallback estimate must still enable the broadcast")
    assert(graft.streaming.SnapshotSource.lastStatsFromManifest(t)
      === Some(false))
  }

  test("segmented lineages serve planning stats from the chain's recorded rows") {
    import spark.implicits._
    val t = s"$warehouse/t_stats_seg"
    // Three-segment chain: each commit records stats for its OWN batch
    // only; planning must fold them across the walk, never fall back
    // to per-file FS lookups.
    SnapshotTable.commitSegment(
      (1L to 20L).map(k => (k, s"a$k")).toDF("k", "v"), t, 1L, None)
    SnapshotTable.commitSegment(
      (21L to 40L).map(k => (k, s"b$k")).toDF("k", "v"), t, 2L, Some(1L))
    SnapshotTable.commitSegment(
      (41L to 60L).map(k => (k, s"c$k")).toDF("k", "v"), t, 3L, Some(2L))
    // The folded stats equal the per-segment footer truth.
    val rec = SnapshotTable.resolvedFileStats(spark, t, 3L)
    val truth = SnapshotTable.fileMeta(spark,
      SnapshotTable.resolvedFiles(spark, t, 3L))
    assert(truth.nonEmpty)
    truth.foreach { case (p, n, b) =>
      assert(rec(p) === ((Some(n), Some(b))), s"resolved stats of $p")
    }
    // And the estimate itself comes from the manifest chain: the
    // 60-row table auto-broadcasts, with the telemetry naming the
    // manifest as the source (r18 fell back to one getFileStatus per
    // planned file here).
    spark.range(200000L).selectExpr("id % 60 + 1 AS k")
      .createOrReplaceTempView("seg_facts")
    val df = spark.sql("SELECT count(*) AS n FROM seg_facts f " +
      "JOIN spec_cat.t_stats_seg d ON f.k = d.k")
    assert(df.head().getLong(0) === 200000L)
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "a 60-row segmented catalog table must auto-broadcast")
    assert(graft.streaming.SnapshotSource.lastStatsFromManifest(t)
      === Some(true))
    // The files metadata relation serves the same chain-resolved stats.
    val inv = spark.sql(
      s"SELECT sum(n_rows) AS n FROM spec_cat.t_stats_seg.files").head()
    assert(inv.getLong(0) === 60L)
  }

  test("an EMPTY staged branch audits as zero rows instead of erroring") {
    import spark.implicits._
    val t = s"$warehouse/t_empty_branch"
    SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v"), t, 1L)
    // An EMPTY staged batch is legal ("it audits as empty and
    // abandons") — the extreme form lists NO file at all in the branch
    // manifest (a writer whose every task staged nothing).
    SnapshotTable.stageFiles(spark, t, "empty", Seq.empty)
    assert(SnapshotTable.branches(spark, t) === Seq("empty"))
    // Resolution serves the PARENT's schema; the audit SELECT plans
    // zero partitions and returns 0 rows.
    val audit = spark.sql(
      "SELECT count(*) AS n FROM spec_cat.t_empty_branch.branch_empty").head()
    assert(audit.getLong(0) === 0L)
    assert(spark.table("spec_cat.t_empty_branch.branch_empty")
      .schema.fieldNames.toSeq === Seq("k", "v"))
    // The discovery relation lists it with a zero footprint.
    val b = spark.sql(
      "SELECT branch, n_files, n_rows FROM spec_cat.t_empty_branch.branches")
      .head()
    assert(b.getString(0) === "empty" && b.getLong(1) === 0L
      && b.getLong(2) === 0L)
    SnapshotTable.abandonStaged(spark, t, "empty")
    assert(SnapshotTable.branches(spark, t).isEmpty)
  }

  test("publish accepts foreign paths: unopenable footers record no stats") {
    import spark.implicits._
    val t = s"$warehouse/t_foreign_pub"
    val dir = s"$t/data/gen=1"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1).write.parquet(dir)
    val real = spark.read.parquet(dir).inputFiles.head
    // A path the layer never wrote (and cannot open) publishes fine —
    // the explicit-path contract; its manifest row just carries no
    // recorded stats, and stats consumers fall back per file.
    val ghost = s"$t/data/gen=1/ghost.parquet"
    SnapshotTable.publish(spark, t, 1L, Seq(real, ghost))
    val rec = SnapshotTable.recordedFileStats(spark, t, 1L)
    assert(rec(real)._1 === Some(2L))
    assert(rec(ghost) === ((None, None)))
  }

  test("CALL system.drop completes the lifecycle: guarded teardown, name reusable") {
    import spark.implicits._
    val t = s"$warehouse/t_drop"
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .createOrReplaceTempView("drop_src")
    spark.sql("CREATE TABLE spec_cat.t_drop AS SELECT * FROM drop_src")
    spark.sql("INSERT INTO spec_cat.t_drop VALUES (3, 30)")
    assert(SnapshotTable.generations(spark, t) === Seq(1L, 2L))

    // A staged audit branch refuses the drop (work in flight).
    SnapshotTable.stage(Seq((9L, 90L)).toDF("k", "v"), t, "wap")
    val exBranch = intercept[Exception] {
      spark.sql("CALL spec_cat.system.drop('t_drop', false)").collect()
    }
    assert(exBranch.getMessage.contains("staged for audit"))
    SnapshotTable.abandonStaged(spark, t, "wap")

    // Unexpired history refuses without force (time travel still
    // serves generation 1).
    val exHist = intercept[Exception] {
      spark.sql("CALL spec_cat.system.drop('t_drop', false)").collect()
    }
    assert(exHist.getMessage.contains("expire history"))

    // Expired down to the latest generation, the un-forced drop goes.
    spark.sql("CALL spec_cat.system.expire('t_drop', 2)").collect()
    val r = spark.sql("CALL spec_cat.system.drop('t_drop', false)").head()
    assert(r.getLong(1) === 1L)
    assert(!cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "t_drop")))
    assert(!new org.apache.hadoop.fs.Path(t).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(t)))

    // The name is free: a fresh CTAS redefines the table from scratch.
    spark.sql(
      "CREATE TABLE spec_cat.t_drop AS SELECT k * 100 AS k, v FROM drop_src")
    assert(spark.sql("SELECT sum(k) FROM spec_cat.t_drop").head().getLong(0)
      === 300L)

    // Forced drop tears down history and branches in one call.
    spark.sql("INSERT INTO spec_cat.t_drop VALUES (7, 70)")
    SnapshotTable.stage(Seq((8L, 80L)).toDF("k", "v"), t, "wap2")
    val rf = spark.sql("CALL spec_cat.system.drop('t_drop', true)").head()
    assert(rf.getLong(1) === 2L)
    assert(SnapshotTable.generations(spark, t).isEmpty)
  }

  test("expire_before retires by wall-clock through the shared stamp policy") {
    import spark.implicits._
    val t = s"$warehouse/t_expire_ts"
    SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v"), t, 1L)
    SnapshotTable.commit(Seq((2L, 20L)).toDF("k", "v"), t, 2L,
      carryFrom = Some(1L))
    SnapshotTable.commit(Seq((3L, 30L)).toDF("k", "v"), t, 3L,
      carryFrom = Some(2L))
    val ts2 = SnapshotTable.commitTimestamp(spark, t, 2L).get
    // Cutoff at gen 2's own stamp: gen 1 retires, gens 2-3 survive.
    val r = spark.sql(
      s"CALL spec_cat.system.expire_before('t_expire_ts', $ts2)").head()
    assert(r.getLong(1) === 2L && r.getLong(2) === 1L)
    assert(SnapshotTable.generations(spark, t) === Seq(2L, 3L))
    // A cutoff after every commit keeps the LATEST generation.
    val ts3 = SnapshotTable.commitTimestamp(spark, t, 3L).get
    val r2 = spark.sql(
      s"CALL spec_cat.system.expire_before('t_expire_ts', ${ts3 + 1000L})")
      .head()
    assert(r2.getLong(1) === 3L)
    assert(SnapshotTable.generations(spark, t) === Seq(3L))
    assert(spark.sql("SELECT sum(v) FROM spec_cat.t_expire_ts")
      .head().getLong(0) === 60L)
  }

  test("metadata tables resolve behind real tables and refuse orphans") {
    import spark.implicits._
    val t = s"$warehouse/t_meta"
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t, 1L)
    // The inspection relations serve through plain SQL.
    assert(spark.sql("SELECT sum(n_rows) FROM spec_cat.t_meta.files")
      .head().getLong(0) === 2L)
    assert(spark.sql("SELECT action FROM spec_cat.t_meta.history")
      .head().getString(0) === "append")
    // A REAL committed table named like a metadata kind wins.
    SnapshotTable.commit(Seq((7L, 70L)).toDF("k", "v"),
      s"$warehouse/t_meta_ns/files", 1L)
    assert(spark.sql("SELECT k FROM spec_cat.t_meta_ns.files")
      .head().getLong(0) === 7L,
      "a committed table must shadow the metadata relation")
    // A merge-on-read lineage's tombstones list with kind='delete', so
    // the inventory cannot read as visible rows.
    val mor = s"$warehouse/t_meta_mor"
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), mor, 1L)
    SnapshotTable.commitDeletes(Seq(1L).toDF("k"), mor, 2L, carryFrom = 1L)
    val kinds = spark.sql(
      "SELECT kind, count(*) FROM spec_cat.t_meta_mor.files GROUP BY kind")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.get("delete").contains(1L) && kinds.contains("data"))
    // No parent table -> no metadata relation.
    intercept[Exception](
      spark.sql("SELECT * FROM spec_cat.no_such_parent.files").collect())
    // Unknown kind under a real parent stays NoSuchTable.
    intercept[Exception](
      spark.sql("SELECT * FROM spec_cat.t_meta.partitions").collect())
  }

  test("a foreign manifests layout is invisible, not an error") {
    // A directory that LOOKS like a table but whose gen= names do not
    // parse is the expected not-a-table shape — swallowed, invisible.
    val fs = new org.apache.hadoop.fs.Path(warehouse)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$warehouse/t_foreign/manifests/gen=abc"))
    assert(!cat.tableExists(ident("t_foreign")))
    assert(!cat.listTables(Array.empty).map(_.name()).contains("t_foreign"))
  }

  test("CTAS defines a table atomically; plain CREATE and REPLACE stay refused") {
    spark.sql("CREATE TABLE spec_cat.t_ctas AS " +
      "SELECT id AS k, id * 2 AS v FROM range(10)")
    val r = spark.sql(
      "SELECT count(*) AS n, sum(k) AS ks, sum(v) AS vs FROM spec_cat.t_ctas")
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((10L, 45L, 90L)))
    val t = s"$warehouse/t_ctas"
    assert(SnapshotTable.generations(spark, t) === Seq(1L))
    assert(SnapshotTable.commitAction(spark, t, 1L).contains("create"))
    // CTAS onto an existing table refuses (no lineage overwrite).
    intercept[Exception](spark.sql(
      "CREATE TABLE spec_cat.t_ctas AS SELECT 1L AS k"))
    // Plain CREATE (no defining content) and REPLACE TABLE refuse.
    val plain = intercept[Exception](spark.sql(
      "CREATE TABLE spec_cat.t_plain (k BIGINT)"))
    assert((plain.getMessage + Option(plain.getCause).fold("")(_.getMessage))
      .contains("AS SELECT"))
    val repl = intercept[Exception](spark.sql(
      "REPLACE TABLE spec_cat.t_ctas AS SELECT 1L AS k"))
    assert((repl.getMessage + Option(repl.getCause).fold("")(_.getMessage))
      .contains("REPLACE TABLE"))
    // A zero-row CTAS still defines the table: schema from the
    // statement, zero rows, INSERT works afterwards.
    spark.sql("CREATE TABLE spec_cat.t_ctas_empty AS " +
      "SELECT id AS k FROM range(10) WHERE id > 100")
    assert(spark.table("spec_cat.t_ctas_empty").schema.fieldNames.toSeq
      === Seq("k"))
    assert(spark.sql("SELECT count(*) AS n FROM spec_cat.t_ctas_empty")
      .head().getLong(0) === 0L)
    spark.sql("INSERT INTO spec_cat.t_ctas_empty VALUES (5)")
    assert(spark.sql("SELECT sum(k) AS s FROM spec_cat.t_ctas_empty")
      .head().getLong(0) === 5L)
  }

  test("CTAS refuses a mis-sold USING format and explicit LOCATION") {
    val using = intercept[Exception](spark.sql(
      "CREATE TABLE spec_cat.t_ctas_csv USING csv AS SELECT 1L AS k"))
    def msgs(e: Throwable): String =
      if (e == null) "" else e.getMessage + msgs(e.getCause)
    assert(msgs(using).contains("USING csv"))
    // parquet (the truth) passes.
    spark.sql("CREATE TABLE spec_cat.t_ctas_pq USING parquet AS SELECT 1L AS k")
    assert(spark.sql("SELECT k FROM spec_cat.t_ctas_pq").head().getLong(0) === 1L)
    val loc = intercept[Exception](spark.sql(
      "CREATE TABLE spec_cat.t_ctas_loc LOCATION '/tmp/elsewhere' " +
        "AS SELECT 1L AS k"))
    assert(msgs(loc).contains("LOCATION"))
  }

  test("ALTER TABLE ADD COLUMN: metadata-only, old rows NULL, narrow time travel") {
    import spark.implicits._
    val t = s"$warehouse/t_alter"
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t, 1L)
    val beforeFiles = SnapshotTable.listFiles(spark, t, 1L)
    spark.sql("ALTER TABLE spec_cat.t_alter ADD COLUMN note STRING")
    // Pure metadata: the alter generation carries gen 1's files verbatim.
    assert(SnapshotTable.generations(spark, t) === Seq(1L, 2L))
    assert(SnapshotTable.commitAction(spark, t, 2L).contains("alter"))
    assert(SnapshotTable.listFiles(spark, t, 2L) === beforeFiles)
    assert(spark.table("spec_cat.t_alter").schema.fieldNames.toSeq
      === Seq("k", "v", "note"))
    // Old rows serve NULL; a post-alter insert carries the column.
    spark.sql("INSERT INTO spec_cat.t_alter VALUES (3, 30, 'x')")
    val r = spark.sql("SELECT count(*) AS n, count(note) AS notes, " +
      "sum(k) AS ks FROM spec_cat.t_alter").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 1L, 6L)))
    // The sidecar PROPAGATES: the post-alter append's own manifest
    // resolves the evolved schema even though the alter generation
    // could expire.
    SnapshotTable.expire(spark, t, keepFrom = 3L)
    assert(spark.table("spec_cat.t_alter").schema.fieldNames.toSeq
      === Seq("k", "v", "note"))
    // Time travel BEFORE the alter keeps the narrow schema... on an
    // unexpired lineage (use a fresh table to check).
    val t2 = s"$warehouse/t_alter_tt"
    SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v"), t2, 1L)
    spark.sql("ALTER TABLE spec_cat.t_alter_tt ADD COLUMNS (note STRING, score DOUBLE)")
    assert(spark.table("spec_cat.t_alter_tt").schema.fieldNames.toSeq
      === Seq("k", "v", "note", "score"))
    assert(spark.sql("SELECT * FROM spec_cat.t_alter_tt VERSION AS OF 1")
      .schema.fieldNames.toSeq === Seq("k", "v"))
    // Refusals: type changes and non-nullable adds (drops/renames are
    // metadata-only evolution now — pinned by their own test).
    intercept[Exception](spark.sql(
      "ALTER TABLE spec_cat.t_alter_tt ALTER COLUMN v TYPE STRING"))
    val nn = intercept[Exception](spark.sql(
      "ALTER TABLE spec_cat.t_alter_tt ADD COLUMN must NOT NULL"))
    assert((nn.getMessage + Option(nn.getCause).fold("")(_.getMessage))
      .toLowerCase.contains("null"))
  }

  test("WAP branch reads from SQL: stage, audit, publish, gone") {
    import spark.implicits._
    val t = s"$warehouse/t_wap_sql"
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t, 1L)
    SnapshotTable.stage(Seq((3L, 30L), (4L, 40L)).toDF("k", "v"), t, "audit1")
    // AUDIT from plain SQL: the staged snapshot reads through the
    // branch relation while the main table still serves gen 1 only.
    val a = spark.sql(
      "SELECT count(*) AS n, sum(k) AS ks FROM spec_cat.t_wap_sql.branch_audit1")
      .head()
    assert((a.getLong(0), a.getLong(1)) === ((2L, 7L)))
    assert(spark.sql("SELECT sum(k) AS s FROM spec_cat.t_wap_sql")
      .head().getLong(0) === 3L)
    // Publish after the green audit; the branch relation retires.
    SnapshotTable.publishStaged(spark, t, "audit1", 2L, Some(1L))
    assert(spark.sql("SELECT sum(k) AS s FROM spec_cat.t_wap_sql")
      .head().getLong(0) === 10L)
    intercept[Exception](spark.sql(
      "SELECT * FROM spec_cat.t_wap_sql.branch_audit1").collect())
  }

  test("SQL-native WAP: INSERT stages once, procedures guard, abandon cleans") {
    import spark.implicits._
    val t = s"$warehouse/t_wap_native"
    SnapshotTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t, 1L)
    // INSERT INTO the branch relation stages; a second INSERT refuses
    // (branches are one-shot: publish or abandon first).
    spark.sql("INSERT INTO spec_cat.t_wap_native.branch_b1 VALUES (3, 30)")
    assert(SnapshotTable.branches(spark, t) === Seq("b1"))
    assert(SnapshotTable.generations(spark, t) === Seq(1L))
    val again = intercept[Exception](spark.sql(
      "INSERT INTO spec_cat.t_wap_native.branch_b1 VALUES (4, 40)"))
    def msgs(e: Throwable): String =
      if (e == null) "" else e.getMessage + msgs(e.getCause)
    assert(msgs(again).contains("already staged"))
    // A read of an UN-staged branch fails with the not-staged message.
    val unstaged = intercept[Exception](spark.sql(
      "SELECT * FROM spec_cat.t_wap_native.branch_nope").collect())
    assert(msgs(unstaged).contains("not staged"))
    // Procedures refuse branches that do not exist.
    val noPub = intercept[Exception](spark.sql(
      "CALL spec_cat.system.publish_branch('t_wap_native', 'nope')"))
    assert(msgs(noPub).contains("not staged"))
    // Abandon retires the pointer and the staged file.
    val ab = spark.sql(
      "CALL spec_cat.system.abandon_branch('t_wap_native', 'b1')").head()
    assert(ab.getLong(2) === 1L)
    assert(SnapshotTable.branches(spark, t).isEmpty)
    assert(spark.sql("SELECT count(*) FROM spec_cat.t_wap_native")
      .head().getLong(0) === 2L)
    // Publish leg through SQL: stage again (legal after abandon), then
    // CALL publish_branch fast-forwards the lineage by reference.
    spark.sql("INSERT INTO spec_cat.t_wap_native.branch_b1 VALUES (5, 50)")
    val pub = spark.sql(
      "CALL spec_cat.system.publish_branch('t_wap_native', 'b1')").head()
    assert(pub.getLong(2) === 2L)
    assert(spark.sql("SELECT sum(k) FROM spec_cat.t_wap_native")
      .head().getLong(0) === 8L)
    assert(SnapshotTable.branches(spark, t).isEmpty)
  }

  test("ALTER on a segmented lineage publishes a zero-data segment, not a duplicate batch") {
    import spark.implicits._
    val t = s"$warehouse/t_alter_seg"
    SnapshotTable.commitSegment(Seq((1L, 10L)).toDF("k", "v"), t, 1L, None)
    SnapshotTable.commitSegment(Seq((2L, 20L)).toDF("k", "v"), t, 2L, Some(1L))
    val before = SnapshotTable.resolvedFiles(spark, t, 2L)
    spark.sql("ALTER TABLE spec_cat.t_alter_seg ADD COLUMN note STRING")
    // The alter generation resolves the SAME file set through its
    // parent chain, and its OWN manifest adds no data rows — the
    // streaming hop planner treats a segment's own rows as the added
    // set, so a verbatim copy would re-deliver gen 2's batch.
    val (own, _, seg) = SnapshotTable.tailEntries(spark, t, 3L)
    assert(seg, "the alter over a segmented base must stay a segment")
    assert(own.isEmpty, "the alter segment must carry ZERO own data rows")
    assert(SnapshotTable.resolvedFiles(spark, t, 3L) === before)
    assert(spark.table("spec_cat.t_alter_seg").schema.fieldNames.toSeq
      === Seq("k", "v", "note"))
    assert(spark.sql("SELECT sum(k) FROM spec_cat.t_alter_seg")
      .head().getLong(0) === 3L)
  }

  test("shallow clone of a post-ALTER snapshot keeps the recorded schema") {
    import spark.implicits._
    val t = s"$warehouse/t_alter_src"
    SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v"), t, 1L)
    spark.sql("ALTER TABLE spec_cat.t_alter_src ADD COLUMN note STRING")
    SnapshotTable.cloneShallow(spark, t, 2L, s"$warehouse/t_alter_clone")
    // The clone's gen-1 manifest carries the source's sidecar: the
    // ALTER-added column exists even though no data file carries it.
    assert(spark.table("spec_cat.t_alter_clone").schema.fieldNames.toSeq
      === Seq("k", "v", "note"))
  }

  test("sidecar propagation survives a short pre-sidecar-writer gap") {
    import spark.implicits._
    val t = s"$warehouse/t_alter_gap"
    SnapshotTable.commit(Seq((1L, 10L)).toDF("k", "v"), t, 1L)
    spark.sql("ALTER TABLE spec_cat.t_alter_gap ADD COLUMN note STRING")
    SnapshotTable.commit(Seq((2L, 20L)).toDF("k", "v"), t, 3L,
      carryFrom = Some(2L))
    // Simulate an OLD-VERSION writer: strip gen 3's sidecar.
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$t/manifests/gen=3/.schema.json"), false)
    // A new-writer commit after the gap still finds the alter's
    // sidecar through the bounded predecessor window and re-propagates.
    SnapshotTable.commit(Seq((3L, 30L)).toDF("k", "v"), t, 4L,
      carryFrom = Some(3L))
    assert(SnapshotTable.recordedSchema(spark, t, 4L).isDefined,
      "the gap commit must re-propagate the sidecar")
    assert(spark.table("spec_cat.t_alter_gap").schema.fieldNames.toSeq
      === Seq("k", "v", "note"))
  }

  test("PARTITIONED BY: identity-only acceptance, null routing, overwrite keeps zone rows") {
    import spark.implicits._
    val wh = warehouse // force the lazy catalog registration
    // Refusals: non-integer column, multi-column specs, transforms.
    val e1 = intercept[Exception](spark.sql(
      "CREATE TABLE spec_cat.t_part_bad PARTITIONED BY (tag) AS " +
        "SELECT 1L AS k, 'x' AS tag"))
    assert(e1.getMessage.contains("must be INT, BIGINT or DATE"))
    val e2 = intercept[Exception](spark.sql(
      "CREATE TABLE spec_cat.t_part_bad2 PARTITIONED BY (bucket(4, k)) AS " +
        "SELECT 1L AS k"))
    assert(e2.getMessage.toLowerCase.contains("identity"))
    // A partitioned CTAS with a NULL partition value: the null routes
    // to its own file with a PLAIN manifest row (no zone row), so a
    // partition predicate still prunes the valued files while the null
    // file admits conservatively — and IS NOT NULL content stays exact.
    Seq((1L, Some(10)), (2L, Some(10)), (3L, Some(20)), (4L, None))
      .toDF("k", "b").createOrReplaceTempView("part_null_src")
    spark.sql("CREATE TABLE spec_cat.t_part_null PARTITIONED BY (b) AS " +
      "SELECT k, b FROM part_null_src DISTRIBUTE BY b")
    assert(SnapshotTable.partitionColumn(spark, s"$wh/t_part_null")
      === Some("b"))
    assert(spark.sql(
      "SELECT k FROM spec_cat.t_part_null WHERE b = 20")
      .as[Long].collect().toSeq === Seq(3L))
    assert(spark.sql(
      "SELECT count(*) FROM spec_cat.t_part_null WHERE b IS NULL")
      .head().getLong(0) === 1L)
    assert(spark.sql("SELECT count(*) FROM spec_cat.t_part_null")
      .head().getLong(0) === 4L)
    // INSERT OVERWRITE stays partition-routed: fresh zone rows prune.
    spark.sql("INSERT OVERWRITE spec_cat.t_part_null " +
      "SELECT k * 10, b FROM part_null_src WHERE b IS NOT NULL DISTRIBUTE BY b")
    val t = s"$wh/t_part_null"
    val probe = spark.sql("SELECT sum(k) FROM spec_cat.t_part_null WHERE b = 10")
    assert(probe.head().getLong(0) === 30L)
    val planned = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1)
    assert(planned === 1,
      s"overwrite must re-record zone rows; b=10 lives in 1 of 2 files, planned $planned")
    // SHOW surface: the table advertises the identity transform.
    assert(cat.loadTable(ident("t_part_null")).partitioning()
      .map(_.toString).toSeq === Seq("identity(b)"))
  }

  test("storage-partitioned join: same-column partitioned tables join with no shuffle") {
    val wh0 = warehouse // force shared catalog registration (and reuse its warehouse)
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // The join carries an extra equi-key (k) beyond the partition key;
    // co-partition on the bkt subset is exactly what SPJ exploits.
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.catalog.spj_cat",
      classOf[graft.streaming.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.spj_cat.warehouse", wh0)
    s.range(0, 4000).selectExpr("id AS k", "CAST(id % 8 AS INT) AS bkt")
      .createOrReplaceTempView("spj_src")
    s.sql("CREATE TABLE spj_cat.t_spj1 PARTITIONED BY (bkt) AS " +
      "SELECT k, bkt FROM spj_src WHERE k % 2 = 1 DISTRIBUTE BY bkt")
    s.sql("CREATE TABLE spj_cat.t_spj2 PARTITIONED BY (bkt) AS " +
      "SELECT k, bkt FROM spj_src WHERE k % 3 = 1 DISTRIBUTE BY bkt")
    val q = s.sql(
      """SELECT count(*) AS n, sum(a.k) AS ks
        |FROM spj_cat.t_spj1 a JOIN spj_cat.t_spj2 b
        |  ON a.bkt = b.bkt AND a.k = b.k""".stripMargin)
    val row = q.head()
    // Ground truth: keys ≡ 1 (mod 6).
    val expect = (0L until 4000L).filter(k => k % 2 == 1 && k % 3 == 1)
    assert(row.getLong(0) === expect.size.toLong)
    assert(row.getLong(1) === expect.sum)
    // THE claim: no shuffle anywhere under the join — both sides serve
    // key-grouped partitions, so the only exchange in the whole plan
    // is the final 1-row aggregate collapse.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case qs: QueryStageExec => qs +: flatten(qs.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val all = flatten(q.queryExecution.executedPlan)
    val joins = all.filter(p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec])
    assert(joins.nonEmpty, "the join must not degrade to broadcast/NLJ\n" +
      q.queryExecution.executedPlan.toString)
    val shufflesUnderJoin = joins.flatMap(j => flatten(j).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]))
    assert(shufflesUnderJoin.isEmpty,
      "storage-partitioned join must serve both sides shuffle-free; got:\n" +
        q.queryExecution.executedPlan.toString)
  }

  test("storage-partitioned join degrades gracefully when DML breaks point-row coverage") {
    val wh0 = warehouse
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.catalog.spjd_cat",
      classOf[graft.streaming.SnapshotCatalog].getName)
    s.conf.set("spark.sql.catalog.spjd_cat.warehouse", wh0)
    s.range(0, 800).selectExpr("id AS k", "CAST(id % 4 AS INT) AS bkt")
      .createOrReplaceTempView("spjd_src")
    s.sql("CREATE TABLE spjd_cat.t_spjd1 PARTITIONED BY (bkt) AS " +
      "SELECT k, bkt FROM spjd_src DISTRIBUTE BY bkt")
    s.sql("CREATE TABLE spjd_cat.t_spjd2 PARTITIONED BY (bkt) AS " +
      "SELECT k, bkt FROM spjd_src WHERE k % 2 = 0 DISTRIBUTE BY bkt")
    // A row-level UPDATE rewrites one partition's file WITHOUT a point
    // zone row — the key-grouped serving must REFUSE the grouping (a
    // mis-keyed partition would silently drop join matches), and the
    // join still answers exactly through the ordinary shuffled path.
    s.sql("UPDATE spjd_cat.t_spjd1 SET k = k + 10000 WHERE bkt = 2")
    val q = s.sql(
      """SELECT count(*) AS n, sum(a.k) AS ks
        |FROM spjd_cat.t_spjd1 a JOIN spjd_cat.t_spjd2 b
        |  ON a.bkt = b.bkt AND a.k = b.k""".stripMargin)
    val row = q.head()
    // Post-update matches: even keys NOT in bkt 2 (those moved +10000
    // on the left and no longer equal the right side's keys).
    val expect = (0L until 800L).filter(k => k % 2 == 0 && k % 4 != 2)
    assert(row.getLong(0) === expect.size.toLong)
    assert(row.getLong(1) === expect.sum)
  }

  test("CALL system.index_bloom builds the sidecar the planner consults") {
    import spark.implicits._
    val wh = warehouse
    val t = s"$wh/t_callbloom"
    // Scattered tag over range-sliced files (the bloom fixture shape:
    // zone maps can never prune a tag point lookup).
    val dataDir = s"$t/data/gen=1"
    val paths = Seq(0L until 10L, 10L until 20L, 20L until 30L, 30L until 40L)
      .zipWithIndex.map { case (r, i) =>
        val p = s"$dataDir/slice_$i"
        r.map(id => (id, id * 37L % 101L)).toDF("doc_id", "tag")
          .coalesce(1).write.parquet(p)
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(p))
          .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
      }
    SnapshotTable.publishAppend(spark, t, 1L, paths.sorted, carryFrom = None)
    val call = spark.sql(
      "CALL spec_cat.system.index_bloom('t_callbloom', 'tag')").head()
    assert(call.getString(1) === "tag" && call.getLong(2) === 4L)
    // The planner's admission must EQUAL the library's own sidecar
    // probe — the CALL built the same index writeBloomIndex would.
    val expect = SnapshotTable
      .bloomAdmittedFiles(spark, t, "tag", Seq(37L), paths.sorted).size
    val probe = spark.sql(
      "SELECT doc_id FROM spec_cat.t_callbloom WHERE tag = 37")
    assert(probe.as[Long].collect().toSet === Set(1L))
    val planned = probe.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.sum
    assert(planned === expect && planned < paths.size)
  }

  test("analyze COMPOSES with partitioning: both dimensions prune after the CALL") {
    import spark.implicits._
    val wh = warehouse
    val t = s"$wh/t_part_analyze"
    spark.range(0, 4000)
      .selectExpr("id AS k", "CAST(id % 4 AS INT) AS bkt")
      .createOrReplaceTempView("pa_src")
    // Partitioned CTAS (bkt point rows); analyze then records k zone
    // maps ON TOP of the partition rows — the residue layout makes
    // every file span k fully, so the k dimension records without
    // pruning here and the point is the COMPOSITION: neither
    // dimension's rows may clobber the other's.
    spark.sql("CREATE TABLE spec_cat.t_part_analyze PARTITIONED BY (bkt) AS " +
      "SELECT k, bkt FROM pa_src DISTRIBUTE BY bkt")
    val preRows = spark.sql(
      "SELECT value, n_files FROM spec_cat.t_part_analyze.partitions " +
        "ORDER BY value").collect()
    assert(preRows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    spark.sql("CALL spec_cat.system.analyze('t_part_analyze', 'k')")
    // Partition dimension still prunes (the analyze carried the point
    // rows verbatim)...
    val p1 = spark.sql("SELECT sum(k) FROM spec_cat.t_part_analyze WHERE bkt = 2")
    assert(p1.head().getLong(0) === (0L until 4000L).filter(_ % 4 == 2).sum)
    val planned1 = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1)
    assert(planned1 === 1, s"partition rows must survive analyze; planned $planned1")
    // ...and a k+partition CONJUNCTION still plans 1 (bkt prunes; the
    // recorded-but-wide k rows must not re-admit anything).
    val p2 = spark.sql(
      "SELECT count(*) FROM spec_cat.t_part_analyze WHERE bkt = 1 AND k < 100")
    assert(p2.head().getLong(0) === 25L)
    val planned2 = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1)
    assert(planned2 === 1)
    // MIN/MAX pushdown now serves from the analyzed zone rows.
    val mm = spark.sql("SELECT min(k), max(k) FROM spec_cat.t_part_analyze")
    assert(mm.head().toSeq === Seq(0L, 3999L))
    assert(mm.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("LIMIT pushdown honors a pinned time-travel generation") {
    import spark.implicits._
    val wh = warehouse
    val t = s"$wh/t_limit_travel"
    SnapshotTable.commit(
      (1L to 100L).toDF("k").repartition(2), t, 1L)
    SnapshotTable.commit(
      (101L to 300L).toDF("k").repartition(3), t, 2L, carryFrom = Some(1L))
    // A limited preview of the PINNED generation truncates against
    // THAT manifest: gen 1 holds 100 rows over 2 files, so LIMIT 60
    // plans ≤ 2 files and counts exactly 60 — never gen 2's content.
    val travel = spark.sql(
      "SELECT count(*) FROM (SELECT * FROM spec_cat.t_limit_travel " +
        "VERSION AS OF 1 LIMIT 60)")
    assert(travel.head().getLong(0) === 60L)
    val planned = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1)
    assert(planned >= 1 && planned <= 2,
      s"the pinned generation has 2 files; planned $planned")
    // And a limit over the table's full row count plans everything
    // and returns the pinned snapshot's exact total.
    assert(spark.sql(
      "SELECT count(*) FROM (SELECT * FROM spec_cat.t_limit_travel " +
        "VERSION AS OF 1 LIMIT 1000)").head().getLong(0) === 100L)
  }

  test("RENAME/DROP COLUMN: metadata-only, alias-resolved reads, retired names refused") {
    import spark.implicits._
    val wh = warehouse
    val t = s"$wh/t_evolve2"
    SnapshotTable.commit(
      (1L to 100L).map(k => (k, k * 2, s"n$k")).toDF("k", "v", "note")
        .repartition(2), t, 1L)
    val beforeFiles = SnapshotTable.listFiles(spark, t, 1L)

    // RENAME v -> score: zero data rewritten, reads resolve old files
    // through the alias chain, time travel keeps the old name.
    spark.sql("ALTER TABLE spec_cat.t_evolve2 RENAME COLUMN v TO score")
    assert(SnapshotTable.listFiles(spark, t, 2L) === beforeFiles,
      "RENAME must be metadata-only: files carry verbatim")
    assert(spark.table("spec_cat.t_evolve2").schema.fieldNames.toSeq
      === Seq("k", "score", "note"))
    assert(spark.sql(
      "SELECT sum(score) FROM spec_cat.t_evolve2").head().getLong(0)
      === (1L to 100L).map(_ * 2).sum)
    assert(spark.sql(
      "SELECT sum(v) FROM spec_cat.t_evolve2 VERSION AS OF 1")
      .head().getLong(0) === (1L to 100L).map(_ * 2).sum)

    // INSERT after the rename: new files carry the NEW name; a read
    // spanning old and new files serves one column.
    spark.sql("INSERT INTO spec_cat.t_evolve2 " +
      "SELECT k + 100, k * 2, concat('m', k) FROM " +
      "(SELECT explode(sequence(1, 50)) AS k)")
    assert(spark.sql(
      "SELECT count(*) AS n, sum(score) AS s FROM spec_cat.t_evolve2")
      .head().toSeq === Seq(150L,
        (1L to 100L).map(_ * 2).sum + (1L to 50L).map(_ * 2).sum))

    // UPDATE with a predicate on the renamed column: the rewrite reads
    // old files through the alias chain and writes the serving name.
    spark.sql("UPDATE spec_cat.t_evolve2 SET score = score + 1 WHERE k <= 10")
    assert(spark.sql(
      "SELECT sum(score) FROM spec_cat.t_evolve2").head().getLong(0)
      === (1L to 100L).map(_ * 2).sum + (1L to 50L).map(_ * 2).sum + 10L)

    // DROP note: tombstoned, not served, not resurrected by the footer
    // union; the pre-drop snapshot still serves it via time travel.
    spark.sql("ALTER TABLE spec_cat.t_evolve2 DROP COLUMN note")
    assert(spark.table("spec_cat.t_evolve2").schema.fieldNames.toSeq
      === Seq("k", "score"))
    assert(spark.sql("SELECT count(note) FROM spec_cat.t_evolve2 VERSION AS OF 2")
      .head().getLong(0) === 100L)

    // Retired names stay retired: re-ADD of a dropped column, and
    // RENAME onto a dropped or pre-rename name, all refuse.
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE spec_cat.t_evolve2 ADD COLUMN note STRING"))
      .getMessage.contains("RETIRED"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE spec_cat.t_evolve2 RENAME COLUMN score TO note"))
      .getMessage.contains("RETIRED"))
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE spec_cat.t_evolve2 RENAME COLUMN score TO v"))
      .getMessage.contains("RETIRED"))

    // SQL DELETE on the evolved lineage: the COW rewrite shapes old
    // files to the serving schema (alias coalesce, tombstones gone).
    spark.sql("DELETE FROM spec_cat.t_evolve2 WHERE k > 100")
    assert(spark.sql(
      "SELECT count(*) AS n, sum(score) AS s FROM spec_cat.t_evolve2")
      .head().toSeq === Seq(100L, (1L to 100L).map(_ * 2).sum + 10L))
  }

  test("compaction after RENAME projects old files to the serving name") {
    import spark.implicits._
    val wh = warehouse
    // Whole-snapshot compact on a renamed lineage: pre-rename files
    // carry the old footer name, post-rename files the new one — the
    // rewrite must coalesce both into ONE serving column, or every
    // pre-rename row silently serves NULL behind a footer that holds
    // old+new columns with complementary nulls.
    val t = s"$wh/t_evrw"
    SnapshotTable.commit(
      (1L to 50L).map(k => (k, k * 3)).toDF("k", "v").repartition(2), t, 1L)
    spark.sql("ALTER TABLE spec_cat.t_evrw RENAME COLUMN v TO score")
    spark.sql("INSERT INTO spec_cat.t_evrw SELECT k + 50, k * 3 FROM " +
      "(SELECT explode(sequence(1, 10)) AS k)")
    val gen = SnapshotTable.generations(spark, t).max
    SnapshotTable.compact(spark, t, gen, 1)
    val expect = (1L to 50L).map(_ * 3).sum + (1L to 10L).map(_ * 3).sum
    assert(spark.sql(
      "SELECT sum(score) AS s, count(*) AS n, count(score) AS ns " +
        "FROM spec_cat.t_evrw").head().toSeq === Seq(expect, 60L, 60L))
    val fields = spark.read.option("mergeSchema", true)
      .parquet(SnapshotTable.listFiles(spark, t, gen + 1): _*)
      .schema.fieldNames.toSeq
    assert(fields.contains("score") && !fields.contains("v"),
      "compacted footers must carry only the serving name")

    // Partition-scoped compact on a renamed lineage: same contract
    // through CALL system.compact_partition.
    spark.sql("CREATE TABLE spec_cat.t_evrw_p PARTITIONED BY (b) AS " +
      "SELECT k, k * 5 AS v, k % 2 AS b FROM " +
      "(SELECT explode(sequence(1, 40)) AS k)")
    spark.sql("ALTER TABLE spec_cat.t_evrw_p RENAME COLUMN v TO score")
    spark.sql("INSERT INTO spec_cat.t_evrw_p SELECT k + 40, k * 5, k % 2 " +
      "FROM (SELECT explode(sequence(1, 10)) AS k)")
    spark.sql("CALL spec_cat.system.compact_partition('t_evrw_p', 0, 1)")
    val expP = (1L to 40L).map(_ * 5).sum + (1L to 10L).map(_ * 5).sum
    assert(spark.sql(
      "SELECT sum(score) AS s, count(*) AS n, count(score) AS ns " +
        "FROM spec_cat.t_evrw_p").head().toSeq === Seq(expP, 50L, 50L))
  }
}
