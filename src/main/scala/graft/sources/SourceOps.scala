package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.RefOps

/** File-format sources and sinks beyond parquet (SURVEY.md §2.3 row 1).
  *
  * `dirScan` is the faithful re-expression of the reference's actual O2
  * source — `opendir`/`readdir` over a directory, names only
  * (/root/reference/Search.cpp:210-227) — on Spark's `binaryFile`
  * source, projecting only file metadata so payload bytes are never
  * read. The flagship search pipeline then runs over the real listing,
  * which is precisely what `./Search <word> <dir>` does.
  *
  * The round-trip queries exercise the csv/json writers and readers
  * end-to-end (write to a scratch dir, read back with an explicit
  * schema, aggregate) and are oracle-checked against the original
  * parquet — proving sink+source fidelity, not just that the code runs.
  */
object SourceOps {

  /** §2.2 Search over a REAL directory listing (word fixed so the oracle
    * is static): which file names under the sf dir contain "item".
    */
  def dirScanSearch(spark: SparkSession, dir: String): DataFrame = {
    val listing = spark.read.format("binaryFile")
      .load(dir)
      .select(
        regexp_extract(col("path"), "[^/]+$", 0).as("name"),
        lit(dir).as("dir"))
    RefOps.searchFiles(listing, "item")
  }

  /** Round-trip sinks go to [[graft.Scratch]]: per-pid (concurrent JVMs
    * must not race each other's write→read directories) and deleted by
    * its shutdown hook when the session ends.
    */
  private def scratch(name: String): String = graft.Scratch.dir(s"roundtrip_$name")

  /** A [[scratch]] path wiped clean first — snapshot-table queries
    * CREATE their table each invocation, and [[SnapshotTable.publish]]
    * is first-writer-wins (a re-run would otherwise trip the
    * conflicting-commit guard on its own previous manifests). The path
    * stays FIXED per name so the specs can dissect the table a
    * registered query just built.
    */
  private def freshTable(spark: SparkSession, name: String): String = {
    val p = scratch(name)
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    p
  }

  /** VARIANT persisted round-trip: the events payloads parse ONCE into
    * VARIANT at write time and land in parquet as the binary encoding —
    * the Spark 4 lakehouse pattern where semi-structured columns are
    * STORED pre-parsed and every reader does typed `variant_get` probes
    * instead of re-parsing JSON strings per query (the storage half of
    * `events_variant`'s compute story). The read-back aggregation must
    * reproduce the original field values exactly — oracle over the raw
    * table's JSON strings — proving encode → parquet → decode lossless.
    */
  def variantRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("events_variant")
    graft.Tables.events(spark, dir)
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .select(col("event_type"), variant_get(col("v"), "$.k", "long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), sum("k").as("k_sum"))
      .orderBy("event_type")
  }

  /** XML sink → XML source → aggregate over the customer dim — Spark 4's
    * built-in XML datasource (rowTag framing, explicit read schema so
    * numerics survive). Same fidelity contract as the other round-trips:
    * the aggregate must equal the parquet original's, value-exact.
    */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("customer_xml")
    Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").option("rowTag", "customer").xml(out)
    spark.read
      .schema("c_custkey LONG, c_mktsegment STRING, c_acctbal DOUBLE")
      .option("rowTag", "customer")
      .xml(out)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Parity.dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** CSV sink → CSV source → aggregate; doubles survive via the writer's
    * full-precision default and an explicit read schema.
    */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("lineitem_csv")
    val src = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    src.write.mode("overwrite").option("header", "true").csv(out)
    spark.read
      .schema("l_orderkey LONG, l_linenumber INT, l_quantity DOUBLE, l_returnflag STRING")
      .option("header", "true")
      .csv(out)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Parity.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** JSON sink → JSON source → aggregate (schema-on-read). */
  def jsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("orders_json")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").json(out)
    spark.read
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Parity.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** Planted malformed lines for [[jsonCorrupt]]. */
  val CorruptLines = 7

  /** Malformed-record tolerance: real crawl/ingest JSON always contains
    * broken lines, and the job must quarantine them without dying or
    * silently dropping. PERMISSIVE read with an explicit
    * `_corrupt_record` column: good rows parse, each bad line surfaces
    * as exactly one quarantined row, and the counts prove nothing was
    * double-counted or lost. Scan-local (the corrupt branch is per-line
    * parsing, no extra pass); at 100 TB the quarantine column routes to
    * a dead-letter sink instead of an aggregate.
    */
  def jsonCorrupt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val out = scratch("orders_json_corrupt")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").json(out)
    (1 to CorruptLines).map(i => s"{broken json line $i").toDF("value")
      .coalesce(1).write.mode("append").text(out)
    spark.read
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, _corrupt_record STRING")
      .json(out)
      .groupBy(when(col("_corrupt_record").isNotNull, lit("_corrupt"))
        .otherwise(col("o_orderstatus")).as("status"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("status")
  }

  /** ORC sink → ORC source → aggregate (columnar twin of the parquet
    * path; DuckDB cannot read ORC, so fidelity is proven by matching
    * the aggregate against the parquet original).
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("part_orc")
    Tables.part(spark, dir)
      .select("p_partkey", "p_brand", "p_retailprice")
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Parity.dsum(col("p_retailprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  /** Hive-style partitioned parquet sink → source with PARTITION
    * PRUNING: write partitioned by status, read back with a partition
    * filter. At 100 TB the partition column is the first line of
    * defense — a pruned scan never even LISTS the other partitions'
    * files, which no row-level pushdown can match. The pruning is
    * asserted on the real plan in SourceOpsSpec (the predicate arrives
    * in FileSourceScanExec.partitionFilters and the filtered listing
    * touches only the selected partition directory); the oracle proves
    * the surviving values are exactly the original table's.
    */
  def partitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("orders_part")
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    partitionedRead(spark, out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Parity.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  /** The pruned read shared by the query and the plan-level spec. */
  def partitionedRead(spark: SparkSession, out: String): DataFrame =
    spark.read.parquet(out).filter(col("o_orderstatus") === "F")

  /** Line-text sink → source: one value per line through the `text`
    * format, counted back per value.
    */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = scratch("priority_text")
    Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("value"))
      .write.mode("overwrite").text(out)
    spark.read.text(out)
      .groupBy("value")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("value")
  }

  /** Target bytes per compacted output file ([[compactionRoundtrip]]).
    * Small so the fixture exercises the sizing math; production sets
    * ~128 MB (the parquet row-group sweet spot).
    */
  val CompactTargetBytes: Long = 8L << 20

  /** Compact a parquet directory to ceil(actualBytes / targetBytes)
    * files and return that target count (exposed for the spec, which
    * asserts the output file count). This is the maintenance op that
    * keeps a 100 TB table scannable: a streaming or per-task writer
    * leaves thousands of KB-sized files whose open cost dominates the
    * scan, and the fix is a periodic size-driven rewrite — file count
    * from MEASURED bytes, not a guessed constant, so the same code
    * yields 1 file at test scale and thousands at production scale.
    */
  def compactTo(spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long): Int = {
    val df = spark.read.parquet(inDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = df.inputFiles
    val bytes = files.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    // Clamp by row count: repartition(n) emits fewer than n files when
    // rows < n, which would break the returned count's "exactly this
    // many part files" contract on very small inputs. Rows come from
    // the parquet FOOTERS of the files already listed — no Spark job,
    // no data pages read (a count() would schedule a scan that re-opens
    // every small file, the very pathology this op repairs).
    val rows = files.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
    val target = math.max(1L, math.min(
      math.ceil(bytes.toDouble / targetBytes).toLong, rows)).toInt
    df.repartition(target).write.mode("overwrite").parquet(outDir)
    target
  }

  /** Small-file compaction round trip: fragment the documents table
    * into 64 tiny files (the pathology), compact by measured size, and
    * prove the rewrite lossless by aggregating the compacted copy
    * against the original table's oracle.
    */
  def compactionRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val small = scratch("docs_small")
    val compacted = scratch("docs_compacted")
    Tables.documents(spark, dir)
      .repartition(64).write.mode("overwrite").parquet(small)
    compactTo(spark, small, compacted, CompactTargetBytes)
    spark.read.parquet(compacted)
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))
      .orderBy("lang")
  }

  /** Per-generation output file counts for [[snapshotRoundtrip]],
    * mirrored in the oracle (deterministic: a round-robin
    * `repartition(n)` over thousands of rows leaves no partition empty,
    * so exactly n part files land).
    */
  val SnapInitFiles = 4
  val SnapAppendFiles = 2
  val SnapCompactFiles = 2

  /** Snapshot / time-travel round trip over [[SnapshotTable]]'s
    * manifest-per-generation layout — the versioned-table tie between
    * `src_compaction` (file maintenance), `events_cdc_merge` (MERGE
    * semantics), and `events_rollup_merge` (incremental state):
    *
    *  - gen 1: the initial load (orders with `o_orderkey % 4 != 0`).
    *  - gen 2: an APPEND commit of the remaining rows — writes only the
    *    batch's files; the manifest carries gen 1's files forward
    *    verbatim (history is never copied).
    *  - gen 3: a compaction REWRITE of gen 2 into
    *    [[SnapCompactFiles]] files — new files, new manifest, old
    *    generations untouched.
    *
    * The result reads every generation back THROUGH ITS MANIFEST and
    * reports (gen, n_files, n_rows, key_sum): gens 2 and 3 must agree
    * on content while differing in file count — i.e. time travel to the
    * pre-compaction generation still serves the identical rows from the
    * original files. The oracle recomputes each generation's content
    * directly from the orders table with the same split predicate and
    * the file-count constants above; SnapshotTableSpec additionally
    * pins the file-set mechanics (disjoint gen-1/gen-3 scans, append
    * reuse, manifest-exact scan pruning) that SQL cannot see.
    */
  /** The init/append/compact 3-generation fixture shared by
    * [[snapshotRoundtrip]] and [[snapshotExpire]].
    */
  /** Memoized pointer to the shared READ-ONLY 3-generation fixture:
    * `src_snapshot` is the designated measured build (rebuilds
    * unconditionally, the [[graft.SessionArtifact]] contract), the
    * read-only consumers (`src_snapshot_changes` / `_history` /
    * `src_connector_read`) ensure-build — one fixture per (JVM, sf
    * dir) instead of one per query. Queries that MUTATE their table
    * (`_expire`) or need different content (`_skip*`, `_merge`,
    * `_optimize`, `pipeline_lakehouse`) keep private tables.
    */
  private val genFixture = new graft.SessionArtifact("snapgens")

  private def sharedThreeGens(spark: SparkSession, dir: String): String =
    genFixture.ensure(dir)(p => buildThreeGens(spark, dir, p))

  private def buildThreeGens(spark: SparkSession, dir: String, table: String): Unit = {
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 =!= 0).repartition(SnapInitFiles),
      table, 1L)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 === 0).repartition(SnapAppendFiles),
      table, 2L, carryFrom = Some(1L))
    SnapshotTable.compact(spark, table, 2L, SnapCompactFiles)
  }

  def snapshotRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val table = genFixture.rebuild(dir)(p => buildThreeGens(spark, dir, p))
    Seq(1L, 2L, 3L).map { g =>
      SnapshotTable.readAs(spark, table, g)
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
        .select(lit(g).as("gen"),
          lit(SnapshotTable.listFiles(spark, table, g).size.toLong).as("n_files"),
          col("n_rows"), col("key_sum"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** Snapshot retention sweep over the same 3-generation fixture —
    * [[SnapshotTable.expire]]'s manifests-first contract as a
    * registered query: before the sweep the table holds three
    * manifests over [[SnapInitFiles]] + [[SnapAppendFiles]] +
    * [[SnapCompactFiles]] live data files (the append SHARES the init
    * generation's files, so "live" counts distinct paths); expiring
    * everything below the compacted generation removes two manifests
    * and every file only they referenced, while the surviving
    * snapshot serves the identical content from its untouched files.
    * Both phases report distinct-live-file counts measured from the
    * surviving manifests AND the latest generation's content, so a
    * sweep that deleted a still-referenced file would break the
    * after-phase row (the read would lose rows), and one that missed
    * orphans would break the file count.
    */
  def snapshotExpire(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_expire")
    buildThreeGens(spark, dir, table)
    def phase(name: String): DataFrame = {
      val gens = SnapshotTable.generations(spark, table)
      val liveFiles = gens.flatMap(g => SnapshotTable.listFiles(spark, table, g)).toSet
      SnapshotTable.readAs(spark, table, gens.max)
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
        .select(lit(name).as("phase"),
          lit(gens.size.toLong).as("n_manifests"),
          lit(liveFiles.size.toLong).as("n_live_files"),
          col("n_rows"), col("key_sum"))
    }
    val before = phase("before")
    // The before-phase stats must be COLLECTED before the sweep deletes
    // the files its lazy plan would read.
    val beforeRows = before.collect().toSeq
    SnapshotTable.expire(spark, table, keepFrom = 3L)
    val beforeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(beforeRows, 1), before.schema)
    beforeDf.unionByName(phase("after")).orderBy("phase")
  }

  /** ROLLBACK / RESTORE over the snapshot layer
    * ([[SnapshotTable.rollback]]): gen 1 is the initial load, gen 2
    * appends the remaining rows (the "bad batch" in this drill), and
    * gen 3 RESTORES gen 1 — as a NEW commit whose manifest re-points at
    * gen 1's files verbatim. The report reads every generation back
    * through its manifest: gen 3 must reproduce gen 1's content AND
    * file count (zero data files written by the restore — at 100 TB a
    * rollback is a kilobyte manifest write, not a table rewrite), while
    * gen 2 keeps time-traveling with the bad batch intact for audit.
    * The oracle recomputes each generation's content relationally from
    * the split predicate; SnapshotTableSpec pins the file-set mechanics
    * (verbatim carry, zero fresh files, the no-rewriting-history
    * guard) that SQL cannot see.
    */
  def snapshotRollback(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_rollback")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 =!= 0).repartition(SnapInitFiles),
      table, 1L)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 === 0).repartition(SnapAppendFiles),
      table, 2L, carryFrom = Some(1L))
    SnapshotTable.rollback(spark, table, toGen = 1L, asGen = 3L)
    Seq(1L, 2L, 3L).map { g =>
      SnapshotTable.readAs(spark, table, g)
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
        .select(lit(g).as("gen"),
          lit(SnapshotTable.listFiles(spark, table, g).size.toLong).as("n_files"),
          col("n_rows"), col("key_sum"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** Planted crashed-writer debris file count for [[snapshotVacuum]]. */
  val VacuumOrphanFiles = 3

  /** VACUUM over the snapshot layer ([[SnapshotTable.vacuum]]): the
    * orphan-file GC every table format ships next to expire — after a
    * crashed or race-losing writer leaves staged data files behind,
    * vacuum deletes exactly the files NO manifest references, while
    * (1) every generation keeps serving byte-identical content (vacuum
    * never touches manifests) and (2) a WAP branch staged for audit
    * SURVIVES, because branch manifests count as references. The drill
    * commits an init generation, plants [[VacuumOrphanFiles]] debris
    * files inside the table's data layout, stages an audit branch, and
    * vacuums: examined/removed counts, the surviving generation's
    * content, and the intact staged batch are all value-gated from the
    * shared layout constants and split predicates.
    */
  def snapshotVacuum(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_vacuum")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 4 =!= 0).repartition(SnapInitFiles),
      table, 1L)
    // Crashed-writer debris: files in the table's data layout that no
    // manifest ever published.
    orders.filter(col("o_orderkey") % 4 === 0).repartition(VacuumOrphanFiles)
      .write.mode("overwrite").parquet(s"$table/data/gen=1/a=orphan")
    SnapshotTable.stage(
      cloneBatch(orders).repartition(SnapAppendFiles), table, "wap")
    val (examined, removed) = SnapshotTable.vacuum(spark, table, minAgeMs = 0L)
    SnapshotTable.readAs(spark, table, 1L)
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
      .crossJoin(SnapshotTable.readStaged(spark, table, "wap")
        .agg(count(lit(1)).as("staged_rows")))
      .select(
        lit(examined).as("n_examined"),
        lit(removed).as("n_removed"),
        lit(SnapshotTable.listFiles(spark, table, 1L).size.toLong).as("n_live_files"),
        col("n_rows"), col("key_sum"), col("staged_rows"))
  }

  /** The clone's dev-experiment batch: every 100th order key. */
  private def cloneBatch(orders: DataFrame): DataFrame =
    orders.filter(col("o_orderkey") % 100 === 0)

  /** SHALLOW CLONE over the snapshot layer
    * ([[SnapshotTable.cloneShallow]]): generation 2 of the shared
    * fixture clones — zero data copied — into a brand-new table whose
    * gen-1 manifest references the source's files by path; the clone
    * then evolves INDEPENDENTLY (an appended experiment batch lands
    * under the clone's own directory), and the source must be
    * bit-for-bit unaffected. The report pins all four views: the
    * source generation, the clone's referencing snapshot (same
    * content, same file COUNT — the zero-copy evidence the spec
    * completes by comparing the actual paths), the evolved clone
    * (source content + the experiment batch), and the source re-read
    * AFTER the clone evolved. The oracle recomputes every row from
    * the fixture's split predicates; SnapshotTableSpec pins the
    * file-set mechanics (verbatim path reuse, zero files written by
    * the clone, source untouched, MoR tombstone carry, refuse
    * non-empty targets).
    */
  def snapshotClone(spark: SparkSession, dir: String): DataFrame = {
    val src = sharedThreeGens(spark, dir)
    val dest = freshTable(spark, "snapshot_clone")
    SnapshotTable.cloneShallow(spark, src, srcGen = 2L, dest)
    SnapshotTable.commit(
      cloneBatch(Tables.orders(spark, dir)).repartition(SnapAppendFiles),
      dest, 2L, carryFrom = Some(1L))
    def phase(name: String, table: String, gen: Long): DataFrame =
      SnapshotTable.readAs(spark, table, gen)
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
        .select(lit(name).as("phase"),
          lit(SnapshotTable.listFiles(spark, table, gen).size.toLong).as("n_files"),
          col("n_rows"), col("key_sum"))
    phase("src_gen2", src, 2L)
      .unionByName(phase("clone_gen1", dest, 1L))
      .unionByName(phase("clone_gen2", dest, 2L))
      .unionByName(phase("src_after", src, 2L))
      .orderBy("phase")
  }

  /** Audit gate for [[snapshotWap]]: a staged batch may publish only if
    * no row reaches this total price (the planted "bad data" predicate;
    * real sf data has rows on both sides).
    */
  val WapAuditMaxPrice = 250000.0

  /** WRITE-AUDIT-PUBLISH over the snapshot layer — the Iceberg WAP
    * pattern on [[SnapshotTable.stage]]/[[SnapshotTable.publishStaged]]/
    * [[SnapshotTable.abandonStaged]]: a batch lands on a NAMED BRANCH,
    * invisible to every lineage reader; the audit runs against the
    * staged snapshot; a green audit fast-forwards the staged files into
    * the next generation BY REFERENCE (zero data rewrite), a red audit
    * abandons the branch and the lineage never saw the batch. The drill
    * stages two branches — the clean half of the odd-key batch (audit
    * green → published as gen 2) and the violating half (audit red →
    * abandoned) — and reports each staged batch's audited numbers plus
    * the final main-lineage content. The oracle recomputes all three
    * rows relationally from the split + audit predicates; the spec pins
    * what SQL cannot see (staged invisibility, publish-by-reference,
    * abandon removing the files, branch first-writer-wins).
    */
  def snapshotWap(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_wap")
    val orders = Tables.orders(spark, dir)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 2 === 0).repartition(SnapInitFiles),
      table, 1L)
    def stagePhase(branch: String, batch: DataFrame): Seq[org.apache.spark.sql.Row] = {
      SnapshotTable.stage(batch.repartition(SnapAppendFiles), table, branch)
      // Audit AGAINST THE STAGED SNAPSHOT (not the input frame): the
      // gate must judge what would actually publish. A batch that
      // staged zero rows (possible at tiny scale factors) audits as
      // empty without a read — spark.read.parquet of an empty staged
      // file list would throw, and there is nothing to publish.
      val staged = SnapshotTable.stagedFiles(spark, table, branch)
      val audited =
        (if (staged.isEmpty)
          spark.range(1).select(lit(0L).as("n_rows"), lit(0L).as("n_bad"),
            lit(0L).as("key_sum"))
        else
          SnapshotTable.readStaged(spark, table, branch)
            .agg(count(lit(1)).as("n_rows"),
              count(when(col("o_totalprice") >= WapAuditMaxPrice, 1)).as("n_bad"),
              coalesce(sum("o_orderkey"), lit(0L)).as("key_sum")))
          .select(lit(s"${branch}_staged").as("phase"),
            col("n_rows"), col("n_bad"), col("key_sum"))
      val rows = audited.collect().toSeq
      val bad = rows.head.getAs[Long]("n_bad")
      val n = rows.head.getAs[Long]("n_rows")
      // Publish only a non-empty clean batch, as the NEXT generation of
      // whatever the lineage currently holds (a hardcoded number would
      // collide if the other branch published first).
      val head = SnapshotTable.generations(spark, table).max
      if (bad == 0L && n > 0L)
        SnapshotTable.publishStaged(spark, table, branch, gen = head + 1,
          carryFrom = Some(head))
      else
        SnapshotTable.abandonStaged(spark, table, branch)
      rows
    }
    val odd = orders.filter(col("o_orderkey") % 2 =!= 0)
    val badRows = stagePhase("bad", odd.filter(col("o_totalprice") >= WapAuditMaxPrice))
    val goodRows = stagePhase("good", odd.filter(col("o_totalprice") < WapAuditMaxPrice))
    val main = SnapshotTable.readAs(spark, table,
        SnapshotTable.generations(spark, table).max)
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("o_totalprice") >= WapAuditMaxPrice, 1)).as("n_bad"),
        sum("o_orderkey").as("key_sum"))
      .select(lit("main").as("phase"), col("n_rows"), col("n_bad"), col("key_sum"))
    val staged = spark.createDataFrame(
      spark.sparkContext.parallelize(badRows ++ goodRows, 1), main.schema)
    staged.unionByName(main).orderBy("phase")
  }

  /** Incremental change read (CDC) over the snapshot layer — the scan
    * an incremental consumer runs instead of a full-table diff: for
    * each generation hop, [[SnapshotTable.changedFiles]] diffs the two
    * MANIFESTS (driver work bounded by file counts) and the consumer
    * reads ONLY the added/removed files, so the cost of consuming an
    * append is proportional to the batch, never the table — at 100 TB
    * an incremental pipeline tails appends without rescanning history.
    * Per hop the report pins both layers:
    *  - file mechanics: `n_added_files` / `n_removed_files` from the
    *    manifest diff (value-gated via the shared layout constants —
    *    the append hop adds exactly [[SnapAppendFiles]] and removes
    *    nothing because the manifest carries gen 1's files verbatim);
    *  - content: `added_rows`/`added_key_sum` read from the added
    *    files alone, plus `net_row_delta`/`net_key_delta` =
    *    added − removed. The compaction hop (2→3) is a full file-set
    *    rewrite whose net deltas must be ZERO — the CDC lens proves
    *    compaction content-neutral, while a consumer that naively
    *    treated added files as new data would double-count (the
    *    removed side is what saves it).
    * SnapshotTableSpec additionally pins that the incremental read's
    * `inputFiles` never touches a carried-forward file.
    */
  def snapshotChanges(spark: SparkSession, dir: String): DataFrame = {
    val table = sharedThreeGens(spark, dir)
    def hop(fromGen: Long, toGen: Long): DataFrame = {
      val (added, removed) = SnapshotTable.changedFiles(spark, table, fromGen, toGen)
      def stats(paths: Seq[String]): DataFrame =
        if (paths.isEmpty)
          spark.range(1).select(lit(0L).as("n"), lit(0L).as("ks"))
        else
          spark.read.parquet(paths: _*)
            .agg(count(lit(1)).as("n"),
              coalesce(sum("o_orderkey"), lit(0L)).as("ks"))
      stats(added).as("a").crossJoin(stats(removed).as("r"))
        .select(lit(fromGen).as("from_gen"), lit(toGen).as("to_gen"),
          lit(added.size.toLong).as("n_added_files"),
          lit(removed.size.toLong).as("n_removed_files"),
          col("a.n").as("added_rows"),
          col("a.ks").as("added_key_sum"),
          (col("a.n") - col("r.n")).as("net_row_delta"),
          (col("a.ks") - col("r.ks")).as("net_key_delta"))
    }
    hop(1L, 2L).unionByName(hop(2L, 3L)).orderBy("from_gen")
  }

  /** DESCRIBE HISTORY over the snapshot layer as a METADATA-ONLY
    * computation: per generation, file count and new-vs-carried split
    * from the manifests, and row counts summed from the parquet
    * FOOTERS ([[SnapshotTable.footerRowCounts]]) — no data page is
    * ever read, so table history costs O(files) at any data scale
    * (the `DESCRIBE HISTORY` / `files`-metadata-table contract). The
    * oracle recomputes every row count RELATIONALLY from the orders
    * table with the fixture's split predicate, so a green row proves
    * the footer metadata agrees with the actual content — the
    * metadata path is value-gated, not trusted.
    */
  def snapshotHistory(spark: SparkSession, dir: String): DataFrame = {
    val table = sharedThreeGens(spark, dir)
    val gens = SnapshotTable.generations(spark, table)
    val rows = gens.map { g =>
      val files = SnapshotTable.listFiles(spark, table, g)
      val prev = if (gens.contains(g - 1))
        SnapshotTable.listFiles(spark, table, g - 1).toSet
      else Set.empty[String]
      val fresh = files.filterNot(prev)
      val counts = SnapshotTable.footerRowCounts(spark, files).toMap
      // The RECORDED commit action (the manifest's `.action=` marker —
      // what the streaming source's rewrite-skip trusts) goes under the
      // value gate too: the oracle pins each generation's expected
      // operation from the fixture's construction.
      (g, SnapshotTable.commitAction(spark, table, g).getOrElse("unknown"),
        files.size.toLong, fresh.size.toLong,
        fresh.map(counts).sum, counts.values.sum)
    }
    import spark.implicits._
    rows.toDF("gen", "action", "n_files", "n_new_files", "new_rows",
        "total_rows")
      .orderBy("gen")
  }

  /** Snapshot generations read THROUGH the DataSource V2 connector
    * ([[graft.streaming.SnapshotSourceProvider]] with `BATCH_READ` and
    * the `generation` time-travel option) — this puts the connector's
    * OWN parquet decode (the public Group API readers the streaming
    * source also uses) inside the value-oracle gate: per generation
    * the aggregate exercises every primitive path the readers decode —
    * BIGINT (`key_sum`), UTF8 strings (`status_chars`), doubles
    * (`price_micro`, floor-micros canonical form), and INT64-micros
    * timestamps (`ts_min`) — against DuckDB reading the original
    * parquet. A decode bug in any branch of the reader's type dispatch
    * breaks the hash.
    */
  def connectorRead(spark: SparkSession, dir: String): DataFrame = {
    val table = sharedThreeGens(spark, dir)
    def readGen(g: Long): DataFrame = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).option("generation", g).load()
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").as("key_sum"),
        sum(length(col("o_orderstatus"))).as("status_chars"),
        expr("CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT)")
          .as("price_micro"),
        // The connector infers TIMESTAMP_NTZ (the underlying INT64
        // micros, no zone); the UTC session makes the ntz→ltz cast
        // epoch-preserving, so unix_micros sees the stored value.
        min(unix_micros(col("o_orderdate").cast("timestamp"))).as("ts_min"))
      .select(lit(g).as("gen"), col("n_rows"), col("key_sum"),
        col("status_chars"), col("price_micro"), col("ts_min"))
    readGen(1L).unionByName(readGen(2L)).orderBy("gen")
  }

  /** The ENCODE half of the connector gate ([[connectorRead]] is the
    * decode half): orders rows flow TO a fresh snapshot table through
    * the DataSource V2 write path (`df.write.format(connector)` — the
    * Group-API parquet encoder, generation-per-append commits), then
    * back out through a PLAIN `spark.read.parquet` of the committed
    * manifests, and the same decode-sensitive aggregate must match
    * DuckDB over the original table. A writer that mangled any
    * primitive branch — long, UTF8 string, double, micros timestamp —
    * or lost rows across the two appends breaks the hash; so would an
    * append whose manifest dropped the first generation's files.
    */
  def connectorWrite(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_connector_write")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    def append(df: DataFrame): Unit =
      df.write.format(classOf[graft.streaming.SnapshotSourceProvider].getName)
        .option("path", table).mode("append").save()
    append(orders.filter(col("o_orderkey") % 3 === 0))
    append(orders.filter(col("o_orderkey") % 3 =!= 0))
    def statsOf(g: Long): DataFrame =
      SnapshotTable.readAs(spark, table, g)
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"),
          sum(length(col("o_orderstatus"))).as("status_chars"),
          expr("CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT)")
            .as("price_micro"),
          min(unix_micros(col("o_orderdate").cast("timestamp"))).as("ts_min"))
        .select(lit(g).as("gen"), col("n_rows"), col("key_sum"),
          col("status_chars"), col("price_micro"), col("ts_min"))
    statsOf(1L).unionByName(statsOf(2L)).orderBy("gen")
  }

  /** DECIMAL money columns end-to-end through the connector — the
    * encode/decode pair [[connectorWrite]]/[[connectorRead]] runs for
    * primitives, at BOTH physical decimal widths: `price` is
    * `DECIMAL(18,4)` (INT64-unscaled parquet, the TPC-H money type)
    * and `wide` is `DECIMAL(38,6)` (FIXED_LEN_BYTE_ARRAY — the
    * big-decimal form aggregates widen into). Two appends land odd
    * then even keys, and each generation reads back through the
    * connector's vectorized decode with integral scale-shifted sums —
    * exact decimal math end to end, no floating rounding anywhere; a
    * decode bug in either physical branch (or a lost unscaled byte)
    * breaks the hash. `wide` derives from the scale-4 decimal, never
    * a second double cast, so both engines construct bit-identical
    * values by exact decimal widening.
    */
  def connectorDecimal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val table = freshTable(spark, "connector_decimal")
    val src = Tables.orders(spark, dir).select(
      col("o_orderkey"),
      col("o_totalprice").cast(DecimalType(18, 4)).as("price"),
      (col("o_totalprice").cast(DecimalType(18, 4)) +
        col("o_orderkey") % 1000).cast(DecimalType(38, 6)).as("wide"))
    def append(df: DataFrame): Unit =
      df.write.format(classOf[graft.streaming.SnapshotSourceProvider].getName)
        .option("path", table).mode("append").save()
    append(src.filter(col("o_orderkey") % 2 === 1))
    append(src.filter(col("o_orderkey") % 2 === 0))
    def statsOf(g: Long): DataFrame = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).option("generation", g).load()
      .agg(count(lit(1)).as("n_rows"),
        sum("o_orderkey").as("key_sum"),
        sum((col("price") * 10000).cast("long")).as("price_e4"),
        sum((col("wide") * 1000000).cast("long")).as("wide_e6"))
      .select(lit(g).as("gen"), col("n_rows"), col("key_sum"),
        col("price_e4"), col("wide_e6"))
    statsOf(1L).unionByName(statsOf(2L)).orderBy("gen")
  }

  /** ARRAY columns through the connector — what lets EMBEDDING tables
    * live in the snapshot catalog: the full embeddings table commits
    * through the connector's write path (the three-level parquet list
    * encode) and reads back through its row decoder, and the
    * per-element quantized checksum (`floor(x * 1000)` over every
    * float, summed) must match DuckDB reading the ORIGINAL parquet —
    * an element lost, reordered, or misdecoded anywhere in the
    * repetition handling breaks the hash. Scale shape: arrays are
    * task-local encode/decode like every other column; nothing
    * collects.
    */
  def connectorArray(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "connector_array")
    Tables.embeddings(spark, dir)
      .write.format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).mode("append").save()
    spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .agg(count(lit(1)).as("n_rows"),
        sum("vec_id").as("id_sum"),
        sum(size(col("embedding"))).as("n_elems"),
        sum(expr("aggregate(embedding, CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
          .as("q_sum"),
        sum(col("label").cast("long")).as("label_sum"))
  }

  /** ROW-GROUP skipping through the connector — the THIRD pruning
    * level under manifest zone maps and bloom sidecars, value-gated:
    * one SORTED file with many small row groups (`parquet.block.size`
    * forced low — the production many-groups-per-GB-file shape in
    * miniature) publishes behind a path-only manifest, so FILE pruning
    * cannot help and a pushed range probe's cost rests entirely on the
    * reader skipping row groups off the footer statistics. The content
    * is the exact value gate; the `ok` boolean reproduces THE skip
    * decision ([[graft.streaming.SnapshotColumnarReader.groupAdmits]],
    * the same function the reader's advance loop calls) over the real
    * footer driver-side and requires a strict-subset admission —
    * group boundaries are compression-dependent, so the raw counts
    * bind as the boolean, not as oracle columns.
    */
  def connectorRowGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_rowgroup")
    val src = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val gen1Dir = s"$table/data/gen=1"
    src.sort("o_orderkey").coalesce(1)
      .write.option("parquet.block.size", (64 * 1024).toString)
      .mode("overwrite").parquet(gen1Dir)
    val file = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir).head
    SnapshotTable.publishAppend(spark, table, 1L, Seq(file), carryFrom = None)
    val (lo, hi) = (maxKey / 4, maxKey / 2)
    val conf = spark.sessionState.newHadoopConf()
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    val (total, admitted) =
      try {
        import scala.jdk.CollectionConverters._
        val blocks = r.getFooter.getBlocks.asScala
        (blocks.size.toLong, blocks.count(b =>
          graft.streaming.SnapshotColumnarReader.groupAdmits(
            graft.streaming.PushedPredicates(
              bounds = Map("o_orderkey" -> ((lo, hi)))), b)).toLong)
      } finally r.close()
    require(total >= 4,
      s"row-group fixture must span several groups; got $total " +
        "(parquet.block.size not honored?)")
    val probe = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
      .head()
    val ok = admitted >= 1 && admitted < total
    Seq((probe.getLong(0), probe.getLong(1), ok))
      .toDF("n_rows", "key_sum", "ok")
  }

  /** STRUCT columns through the connector — the TYPED-METADATA shape
    * the multimodal story mandates (binary payload + typed metadata):
    * the documents table commits with its descriptive columns folded
    * into one `meta` struct (nested parquet group through the
    * connector's recursive encode), reads back through the recursive
    * by-name decode, and the per-language aggregate over the struct
    * MEMBERS must match DuckDB reading the original FLAT columns — a
    * member lost, reordered or null-shifted anywhere in the nesting
    * breaks the hash.
    */
  def connectorStruct(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "connector_struct")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        struct(col("lang"), col("source"), col("n_chars")).as("meta"))
      .write.format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).mode("append").save()
    spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .groupBy(col("meta.lang").as("lang"))
      .agg(count(lit(1)).as("docs"),
        sum("meta.n_chars").as("chars_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** COUNT(*) PUSHDOWN from manifest stats — the metadata-answered
    * aggregate every table format serves: `SELECT count(*) FROM t` on
    * a 100 TB snapshot table is ONE driver-side manifest read (the
    * recorded per-file row counts summed; chain-folded for segments),
    * no data file opened, no task beyond the one-row local relation.
    * Phase `a_pushed` gates the full count with the plan REQUIRED to
    * be the local relation (no BatchScan, no HashAggregate — the
    * telemetry agreeing); `b_travel` counts a PINNED generation from
    * its own manifest; `c_filtered` proves the guard — a residual
    * filter refuses the shortcut and the real scan still counts
    * exactly. Tombstone/missing-stat refusals are spec-pinned.
    */
  def connectorCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_count")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 2 === 1).repartition(3), table, 1L)
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 2 === 0).repartition(2), table, 2L,
      carryFrom = Some(1L))
    def read() = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
    val full = read().selectExpr("count(*)")
    val nFull = full.head().getLong(0)
    val planFull = full.queryExecution.executedPlan.toString
    val aOk = planFull.contains("LocalTableScan") &&
      !planFull.contains("BatchScan") && !planFull.contains("HashAggregate") &&
      graft.streaming.SnapshotSource.lastCountPushdown(table).contains(true)
    val travel = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).option("generation", "1").load()
      .selectExpr("count(*)")
    val nTravel = travel.head().getLong(0)
    val bOk = !travel.queryExecution.executedPlan.toString.contains("BatchScan")
    val filtered = read().where(col("o_orderkey") % 3 === 0)
      .selectExpr("count(*)")
    val nFiltered = filtered.head().getLong(0)
    val cOk = filtered.queryExecution.executedPlan.toString.contains("BatchScan")
    Seq(("a_pushed", nFull, aOk), ("b_travel", nTravel, bOk),
      ("c_filtered", nFiltered, cOk))
      .toDF("phase", "n_rows", "ok").orderBy("phase")
  }

  /** MIN/MAX PUSHDOWN from manifest zone maps — [[connectorCount]]'s
    * sibling for the other metadata-answered aggregates: bare
    * `MIN(col)` / `MAX(col)` on a stats-covered column fold the
    * per-file [lo, hi] the manifest already records, under the
    * identical refuse-on-filter/tombstone/missing-stats guards, so
    * `SELECT min(k), max(k), count(*) FROM t` on a 100 TB table is one
    * driver-side manifest read serving a one-row local relation.
    * `a_ok` requires the combined statement's plan to BE that local
    * relation (no BatchScan, no HashAggregate); `b_ok` the same for a
    * DATE column (the physical-long fold translated back to the
    * column's domain); `c_ok` proves the guard — a filtered MIN still
    * scans honestly. Every value is value-gated against DuckDB.
    */
  def connectorMinMax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_minmax")
    val src = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_orderdate").cast("date").as("dt"))
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", pmod(col("o_orderkey"), lit(4)).cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishStats(spark, table, 1L,
      SnapshotTable.footerStats(spark, paths, Seq("o_orderkey", "dt")))
    def read() = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
    def isLocal(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      p.contains("LocalTableScan") && !p.contains("BatchScan") &&
        !p.contains("HashAggregate")
    }
    val a = read().selectExpr("min(o_orderkey) AS key_min",
      "max(o_orderkey) AS key_max", "count(*) AS n_rows")
    val ra = a.head()
    val aOk = isLocal(a)
    val b = read().selectExpr("min(dt) AS dt_min", "max(dt) AS dt_max")
    val rb = b.head()
    val bOk = isLocal(b)
    val c = read().where(col("o_orderkey") % 3 === 0)
      .selectExpr("min(o_orderkey) AS f_min")
    val rc = c.head()
    val cOk = c.queryExecution.executedPlan.toString.contains("BatchScan")
    Seq((ra.getLong(0), ra.getLong(1), ra.getLong(2),
      rb.getDate(0).toLocalDate.toEpochDay, rb.getDate(1).toLocalDate.toEpochDay,
      rc.getLong(0), aOk, bOk, cOk))
      .toDF("key_min", "key_max", "n_rows", "day_min", "day_max", "f_min",
        "a_ok", "b_ok", "c_ok")
  }

  /** LIMIT pushdown as a FILE-COUNT prune — the preview-query shape:
    * `SELECT ... LIMIT n` on a 100k-file table must plan ONE file,
    * not the table. The pushdown is PARTIAL (Spark's own Limit stays
    * on top, so the scan only owes AT LEAST n rows), which makes the
    * sound plan a prefix of the sorted immutable manifest list
    * covering ≥ n recorded rows — zero data I/O decides the prefix.
    * Phases gate the planned-file count from the connector's planning
    * telemetry against the slice layout's relational recompute: a
    * small limit plans 1-of-4, a limit one past the first file's
    * count plans 2, and an over-table limit plans all 4 with the full
    * count — so a planner that stopped truncating (or truncated
    * wrongly) breaks the value compare either way.
    */
  def connectorLimit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_limit")
    val src = Tables.orders(spark, dir).select("o_orderkey")
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + 4) / 4
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishAppend(spark, table, 1L, paths, carryFrom = None)
    val firstCount = SnapshotTable.footerRowCounts(spark, Seq(paths.head))
      .head._2
    def read() = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
    def phase(tag: String, n: Long): (String, Long, Long) = {
      val got = read().limit(if (n > Int.MaxValue) Int.MaxValue else n.toInt)
        .count()
      val planned = graft.streaming.SnapshotSource.lastPlan(table)
        .map(_._1).getOrElse(-1).toLong
      (tag, got, planned)
    }
    val total = src.count()
    Seq(phase("a_one", 5L), phase("b_two", firstCount + 1L),
      phase("c_all", total + 100L))
      .toDF("phase", "n_rows", "n_files").orderBy("phase")
  }

  /** TopN pushdown as a FILE prune — "the latest n by key", the other
    * preview shape: `ORDER BY col DESC LIMIT n` (NULLS LAST by
    * default, which is what makes whole-file proof counting sound)
    * drops every file whose rows provably all sort after the n-th —
    * on a time-clustered 100 TB table that is ONE tail file planned,
    * not the table. The exclusion rule works off zone rows extended
    * with per-column NULL counts (proof rows = recorded rows − nulls),
    * and the pushdown stays PARTIAL, so Spark's TakeOrderedAndProject
    * owns the order and pruning only shrinks I/O. Phases gate desc
    * (1-of-4 planned), explicit ASC NULLS LAST (1-of-4 from the other
    * end), and the default-ASC refusal (NULLS FIRST would sort
    * unknowable null rows ahead of every proof — all 4 files must
    * plan), each with the exact top-k content.
    */
  def connectorTopN(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_topn")
    val src = Tables.orders(spark, dir).select("o_orderkey")
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + 4) / 4
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishStats(spark, table, 1L,
      SnapshotTable.footerStats(spark, paths, Seq("o_orderkey")))
    def read() = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
    def phase(tag: String,
        df: org.apache.spark.sql.DataFrame): (String, Long, Long, Long) = {
      val r = df.agg(count(lit(1)).as("n"), sum("o_orderkey").as("ks")).head()
      val planned = graft.streaming.SnapshotSource.lastPlan(table)
        .map(_._1).getOrElse(-1).toLong
      (tag, r.getLong(0), r.getLong(1), planned)
    }
    Seq(
      phase("a_desc", read().orderBy(col("o_orderkey").desc).limit(5)),
      phase("b_asc", read().orderBy(col("o_orderkey").asc_nulls_last).limit(7)),
      phase("c_first", read().orderBy(col("o_orderkey")).limit(5)))
      .toDF("phase", "n_rows", "key_sum", "n_files").orderBy("phase")
  }

  /** MAP columns through the connector — the last nested shape of the
    * type surface: per-document attribute maps (the flexible-metadata
    * idiom next to [[connectorStruct]]'s fixed shape) commit as
    * standard key_value groups and read back through the recursive
    * decode; sums over two looked-up keys must match DuckDB over the
    * original flat columns — an entry dropped or a key/value pairing
    * shifted anywhere breaks the hash.
    */
  def connectorMap(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "connector_map")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        map(lit("chars"), col("n_chars"),
          lit("id2"), col("doc_id") * 2).as("m"))
      .write.format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).mode("append").save()
    spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .agg(count(lit(1)).as("n_rows"),
        sum(element_at(col("m"), "chars")).as("chars_sum"),
        sum(element_at(col("m"), "id2")).as("id2_sum"))
  }

  /** [[connectorDateSkip]] slice count, mirrored in its oracle. */
  val DateSlices = 8

  /** DATE-range file skipping through the connector — the typed
    * pushdown surface beyond integers: production tables cluster by
    * ingest DATE, and "last month's data" must prune files without
    * anyone spelling epoch arithmetic. The layout is one file per
    * date-range slice with multi-column zone maps recorded from the
    * footers' INT32 date statistics; the probe arrives as a plain
    * `BETWEEN DATE ... AND DATE ...` pushed through the connector,
    * translated to the physical epoch-day domain
    * ([[graft.streaming.PushedPredicates.physicalLong]]). The
    * planned-file count is read off the EXECUTED DSv2 plan and
    * value-gated against the oracle's relational recompute of the
    * slice admission — a planner that failed to translate the date
    * bounds would plan every file and break the compare, not just run
    * slower. DECIMAL bounds ride the same translation (spec-pinned).
    */
  def connectorDateSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_dateskip")
    val src = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_orderdate").cast("date").as("dt"))
    val Array((mn, mx)) = src
      .agg(min(unix_date(col("dt"))), max(unix_date(col("dt"))))
      .as[(Int, Int)].collect()
    val w = (mx - mn + DateSlices) / DateSlices
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", expr(s"(unix_date(dt) - $mn) div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishStats(spark, table, 1L,
      SnapshotTable.footerStats(spark, paths, Seq("dt")))
    val (loD, hiD) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
    val lo = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(loD.toLong))
    val hi = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(hiD.toLong))
    val probe = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .filter(col("dt") >= lit(lo) && col("dt") <= lit(hi))
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
    val row = probe.head()
    // Planned files from the connector's own planning telemetry (the
    // connectorDpp rationale: the scan node hides inside AQE query
    // stages, and plan-walks can land on discarded cosmetic copies).
    val planned = graft.streaming.SnapshotSource.lastPlan(table)
      .map(_._1).getOrElse(-1)
    Seq((paths.size.toLong, planned.toLong, row.getLong(0), row.getLong(1)))
      .toDF("n_files_total", "n_files_planned", "n_rows", "key_sum")
  }

  /** TIME TRAVEL through the connector across a REWRITE hop — the
    * batch value gate for the streaming source's hop-classification
    * metadata ([[graft.streaming.SnapshotSource]]'s skipRewrites
    * contract): each generation of the shared init/append/compact
    * fixture is read through the DataSource V2 BATCH_READ
    * `generation` option (gen 3 proves DSv2 time travel ACROSS the
    * compaction — the connector must resolve content through the
    * post-rewrite manifest, not the file layout), and each hop
    * reports its file-level diff (added/removed counts) plus the
    * parquet-FOOTER row delta — exactly the content-neutrality
    * evidence the streaming skip verifies before dropping a rewrite
    * hop. The oracle recomputes every number from the split
    * predicates and layout constants: the append hop's delta is the
    * appended split's count, and the compact hop's delta MUST be
    * zero — a compaction that lost or duplicated rows breaks the
    * value hash here before any stream ever tails it.
    */
  def connectorTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = sharedThreeGens(spark, dir)
    def hop(g: Long): (Long, Long, Long) = {
      val cur = SnapshotTable.listFiles(spark, table, g)
      val prev =
        if (g == 1L) Seq.empty[String]
        else SnapshotTable.listFiles(spark, table, g - 1)
      val added = (cur.toSet -- prev).toSeq.sorted
      val removed = (prev.toSet -- cur).toSeq.sorted
      val delta =
        SnapshotTable.footerRowCounts(spark, added).map(_._2).sum -
          SnapshotTable.footerRowCounts(spark, removed).map(_._2).sum
      (added.size.toLong, removed.size.toLong, delta)
    }
    Seq(1L, 2L, 3L).map { g =>
      val (a, r, d) = hop(g)
      spark.read
        .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
        .option("path", table).option("generation", g).load()
        .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
        .select(lit(g).as("gen"), col("n_rows"), col("key_sum"),
          lit(a).as("n_added_files"), lit(r).as("n_removed_files"),
          lit(d).as("row_delta"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** FILE PROVENANCE through the hidden `_metadata` columns — the
    * "which crawl file did each doc come from" question every curation
    * run answers when a bad shard must be traced and re-pulled. The
    * documents stage into a bucket-partitioned layout, and the report
    * keys on the bucket REGEXED OUT OF `_metadata.file_path` — never
    * on the partition column — so the gate holds Spark's per-row file
    * attribution: if the metadata column misattributed rows to files,
    * the per-bucket counts and id-sums would diverge from the oracle's
    * direct `doc_id % 4` derivation. Zero-cost at scale: `_metadata`
    * is constant-per-file, populated from the scan's own file split,
    * no extra I/O.
    */
  def provenance(spark: SparkSession, dir: String): DataFrame = {
    val staged = freshTable(spark, "provenance_docs")
    Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 4).as("bucket"))
      .write.partitionBy("bucket").parquet(staged)
    spark.read.parquet(staged)
      .select(regexp_extract(col("_metadata.file_path"), "bucket=(\\d+)", 1)
        .cast("long").as("bucket"), col("doc_id"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("docs"), sum("doc_id").as("id_sum"))
      .orderBy("bucket")
  }

  /** SQL-FIRST access to the table format through the registered
    * [[graft.streaming.SnapshotCatalog]] — the DataSource V2
    * `TableCatalog` that makes every committed table under a warehouse
    * directory addressable from PLAIN SQL, which is how an external
    * consumer (a BI tool, a SQL notebook) actually reaches a table
    * format. Five phases, all through `spark.sql` text:
    *
    *  - `VERSION AS OF 1` / `VERSION AS OF 2` over the shared
    *    init/append/compact fixture — Spark routes the version to
    *    `loadTable(ident, version)`, which pins the generation on the
    *    returned table (time travel with no reader-side options);
    *  - a version-less read of the same table — latest (the compacted
    *    gen 3) must serve gen 2's exact content from different files;
    *  - `INSERT INTO` a second, library-created table and a read-back:
    *    the SQL write path resolves to the connector's
    *    first-writer-wins append commit (`ins_gen1` travels to the
    *    pre-insert snapshot — snapshot isolation makes the lazy read
    *    immune to the interleaved eager INSERT — and `ins_after` must
    *    see exactly the original full projection).
    *
    * The aggregate is [[connectorRead]]'s decode-sensitive shape
    * (BIGINT / UTF8 / double-micros / timestamp-micros), so the gate
    * holds catalog resolution + time travel + SQL insert + the
    * connector's decode all at once against DuckDB recomputing from
    * the split predicates. Catalog resolution is driver-side manifest
    * metadata only — addressing a table never runs a Spark job.
    */
  /** Register the session's snapshot catalog over the per-JVM scratch
    * root (every scratch table lives directly under it, so the
    * catalog's one-time initialize sees all of them) and return the
    * catalog name. Idempotent — conf keys are stable per session.
    */
  private def ensureCatalog(spark: SparkSession): String = {
    spark.conf.set("spark.sql.catalog.snap_cat",
      classOf[graft.streaming.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap_cat.warehouse",
      new org.apache.hadoop.fs.Path(graft.Scratch.dir("wh_probe"))
        .getParent.toString)
    "snap_cat"
  }

  def catalogSql(spark: SparkSession, dir: String): DataFrame = {
    val shared = sharedThreeGens(spark, dir)
    val sharedPath = new org.apache.hadoop.fs.Path(shared)
    ensureCatalog(spark)

    val ins = freshTable(spark, "catalog_sql_insert")
    val insName = new org.apache.hadoop.fs.Path(ins).getName
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 3 === 0).repartition(2), ins, 1L)

    def phase(tag: String, from: String): DataFrame = spark.sql(
      s"""SELECT '$tag' AS phase,
         |  count(*) AS n_rows,
         |  sum(o_orderkey) AS key_sum,
         |  sum(length(o_orderstatus)) AS status_chars,
         |  CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT) AS price_micro,
         |  min(unix_micros(CAST(o_orderdate AS TIMESTAMP))) AS ts_min
         |FROM $from""".stripMargin)

    val sharedRef = s"snap_cat.`${sharedPath.getName}`"
    val insRef = s"snap_cat.`$insName`"
    // The pre-insert phase travels to generation 1, so executing it
    // after the INSERT still reads the pre-insert snapshot.
    val preIns = phase("ins_gen1", s"$insRef VERSION AS OF 1")
    orders.filter(col("o_orderkey") % 3 =!= 0)
      .createOrReplaceTempView("catalog_sql_rest")
    spark.sql(s"INSERT INTO $insRef SELECT * FROM catalog_sql_rest")
    // TIMESTAMP AS OF phases: the query timestamps come FROM the
    // manifests' own commit markers (never file mtimes) — gen 1's
    // exact stamp must resolve to gen 1 (monotonic stamping puts gen 2
    // strictly later), and gen 3's to the compacted latest.
    def tsOf(g: Long): Long =
      SnapshotTable.commitTimestamp(spark, shared, g).getOrElse(
        throw new IllegalStateException(
          s"shared fixture gen $g must carry a commit-time marker")) * 1000L
    phase("gen1", s"$sharedRef VERSION AS OF 1")
      .unionByName(phase("gen2", s"$sharedRef VERSION AS OF 2"))
      .unionByName(phase("latest", sharedRef))
      .unionByName(preIns)
      .unionByName(phase("ins_after", insRef))
      .unionByName(phase("ts_gen1",
        s"$sharedRef TIMESTAMP AS OF timestamp_micros(${tsOf(1L)})"))
      .unionByName(phase("ts_latest",
        s"$sharedRef TIMESTAMP AS OF timestamp_micros(${tsOf(3L)})"))
      .orderBy("phase")
  }

  /** SQL `DELETE FROM` through the catalog — the table implements
    * `SupportsDeleteV2`, so the statement resolves to the connector's
    * COPY-ON-WRITE delete: survivors rewrite into the next generation
    * under the first-writer-wins commit with recorded action "delete",
    * while HISTORY keeps serving the pre-delete rows (phase `before`
    * time-travels to generation 1 AFTER the delete ran — snapshot
    * isolation is what makes its lazy read immune). The oracle
    * re-derives both phases from the delete predicate; the drill also
    * requires the recorded action, so a delete that committed as a
    * content-neutral-looking "append"/"compact" (which the streaming
    * skipRewrites guard would then wrongly skip) fails loudly.
    */
  def catalogDelete(spark: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_delete")
    val name = new org.apache.hadoop.fs.Path(t).getName
    SnapshotTable.commit(
      Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(2),
      t, 1L)
    spark.sql(s"DELETE FROM $cat.`$name` WHERE o_orderkey % 3 = 0")
    require(SnapshotTable.commitAction(spark, t, 2L).contains("delete"),
      "the SQL DELETE must commit with the recorded action 'delete'")
    def phase(tag: String, from: String): DataFrame = spark.sql(
      s"""SELECT '$tag' AS phase, count(*) AS n_rows,
         |  sum(o_orderkey) AS key_sum,
         |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM $from""".stripMargin)
    phase("before", s"$cat.`$name` VERSION AS OF 1")
      .unionByName(phase("after", s"$cat.`$name`"))
      .orderBy("phase")
  }

  /** Key-range slices of [[catalogDml]]'s gen-1 layout — few enough
    * that every slice is non-empty at the gate scales, and mirrored in
    * the drill's carried-verbatim require.
    */
  val DmlSlices = 4

  /** SQL `UPDATE` and `MERGE INTO` through the catalog — the
    * row-level-operation half of the DML surface ([[catalogDelete]]
    * covers DELETE): both statements resolve to the connector's
    * group-based FILE-PRUNED copy-on-write rewrite
    * ([[graft.streaming.SnapshotRowLevelOperation]]). Generation 1
    * lands as deterministic key-range slices with per-file zone maps,
    * so the UPDATE's pushed range predicate (`o_orderkey <= max/4`,
    * inside slice 0's bounds) admits exactly ONE file — the drill
    * REQUIRES the other [[DmlSlices]]−1 files carried verbatim into
    * generation 2, pinning that a selective UPDATE is O(affected
    * files), never a table rewrite (and, dually, that the pruned scan
    * did NOT silently drop the unscanned files' rows: the gated
    * b_update phase re-reads the whole post-UPDATE snapshot). The
    * MERGE exercises the FULL arm grammar — WHEN MATCHED DELETE,
    * WHEN MATCHED UPDATE, WHEN NOT MATCHED INSERT, and WHEN NOT
    * MATCHED BY SOURCE UPDATE — with disjoint source classes (%11
    * deletes exclude the %7 updates, inserted keys are shifted out of
    * the target's domain) so the row-level cardinality contract holds.
    * Three gated phases, each a time-travel or latest read executed
    * AFTER both mutations ran (snapshot isolation under the hash):
    * the pristine gen 1, the post-UPDATE gen 2, the post-MERGE
    * latest. The oracle re-derives every phase from the mutation
    * predicates over the raw table, and the double arithmetic
    * (`p + 1000`, `p + 0.5`, literal prices) is written identically
    * on both engines so the floor-cents sums compare exactly.
    */
  def catalogDml(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_dml")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    // Gen 1: deterministic key-range slices (one file each) + zone maps
    // — the layout that makes the UPDATE's file pruning observable.
    val maxKey = orders.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + DmlSlices) / DmlSlices
    val gen1Dir = s"$t/data/gen=1"
    orders.withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val files1 = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishStats(spark, t, 1L,
      SnapshotTable.footerStats(spark, files1, Seq("o_orderkey")))
    require(files1.size == DmlSlices,
      s"gen 1 must land $DmlSlices slice files; got ${files1.size}")

    // The predicate's bound sits inside slice 0 (max/4 < w), so zone
    // maps admit exactly that file; the rest must carry verbatim.
    spark.sql(s"UPDATE $cat.`$name` SET o_totalprice = o_totalprice + 1000 " +
      s"WHERE o_orderkey <= ${maxKey / 4}")
    require(SnapshotTable.commitAction(spark, t, 2L).contains("update"),
      "UPDATE must commit with the recorded action 'update'")
    val carried = files1.toSet
      .intersect(SnapshotTable.listFiles(spark, t, 2L).toSet)
    require(carried.size == DmlSlices - 1,
      s"a pruned UPDATE must carry ${DmlSlices - 1} untouched files " +
        s"verbatim; carried ${carried.size} of ${files1.size}")

    orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit(123.5).as("o_totalprice"),
        lit("upd").as("act"))
      .unionByName(
        orders.filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") % 7 =!= 0)
          .select(col("o_orderkey"), lit(0.0).as("o_totalprice"),
            lit("del").as("act")))
      .unionByName(orders.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
          lit(7.25).as("o_totalprice"), lit("ins").as("act")))
      .createOrReplaceTempView("catalog_dml_src")
    spark.sql(
      s"""MERGE INTO $cat.`$name` tgt USING catalog_dml_src src
         |ON tgt.o_orderkey = src.o_orderkey
         |WHEN MATCHED AND src.act = 'del' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
         |WHEN NOT MATCHED THEN
         |  INSERT (o_orderkey, o_totalprice) VALUES (src.o_orderkey, src.o_totalprice)
         |WHEN NOT MATCHED BY SOURCE AND tgt.o_orderkey % 17 = 3 THEN
         |  UPDATE SET o_totalprice = tgt.o_totalprice + 0.5""".stripMargin)
    require(SnapshotTable.commitAction(spark, t, 3L).contains("merge"),
      "MERGE must commit with the recorded action 'merge'")

    def phase(tag: String, from: String): DataFrame = spark.sql(
      s"""SELECT '$tag' AS phase, count(*) AS n_rows,
         |  sum(o_orderkey) AS key_sum,
         |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM $from""".stripMargin)
    phase("a_before", s"$cat.`$name` VERSION AS OF 1")
      .unionByName(phase("b_update", s"$cat.`$name` VERSION AS OF 2"))
      .unionByName(phase("c_merge", s"$cat.`$name`"))
      .orderBy("phase")
  }

  /** SQL `CALL` — the stored-procedure MAINTENANCE surface
    * ([[graft.streaming.SnapshotProcedures]]), completing the catalog
    * front door: DML mutates rows, `CALL <cat>.system.*` runs the
    * table lifecycle. The drill drives the full cycle against one
    * table and gates every procedure's RESULT relation plus its
    * observable effect: `compact(1 → 2 files‑wise 4 → 2)`,
    * `rollback(1)` restoring the pre-compaction manifest as
    * generation 3, `history()` (the DESCRIBE HISTORY analogue:
    * per-generation action + data-file counts straight off the
    * manifests — commit timestamps are wall-clock, so the gate binds
    * their strict MONOTONICITY as a boolean instead of their values),
    * and `expire(keep_from = 2)`, which retires generation 1's
    * manifest while deleting ZERO data files — the rollback manifest
    * still references them, the reference-counting the expire
    * contract exists for — after which the time-travel read of the
    * expired generation must fail loudly and the latest content must
    * still serve byte-for-byte (phase `e_content`).
    */
  def catalogProc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_proc")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    SnapshotTable.commit(orders.repartition(4), t, 1L)

    val cRow = spark.sql(s"CALL $cat.system.compact('$name', 1, 2)").head()
    // The incremental-scan diff across the compaction hop: 4 init
    // files removed, 2 compacted files added, and the recorded row
    // counts must prove the rewrite content-neutral FROM THE
    // PROCEDURE'S OWN OUTPUT.
    val dRows = spark.sql(s"CALL $cat.system.changes('$name', 1, 2)").collect()
    val (dAdd, dRem) = dRows.partition(_.getString(1) == "added")
    val diffNeutral = dRows.forall(!_.isNullAt(2)) &&
      dAdd.map(_.getLong(2)).sum == dRem.map(_.getLong(2)).sum
    val rRow = spark.sql(s"CALL $cat.system.rollback('$name', 1)").head()
    val hRows = spark.sql(s"CALL $cat.system.history('$name')").collect()
    // Wall-clock values cannot be oracle-matched; their ORDER can: the
    // monotonic stamping contract says strictly increasing, non-null.
    val ts = hRows.map(r =>
      if (r.isNullAt(2)) None else Some(r.getLong(2)))
    val tsOk = ts.forall(_.isDefined) &&
      ts.flatten.sliding(2).forall(p => p.length < 2 || p(0) < p(1))
    val eRow = spark.sql(s"CALL $cat.system.expire('$name', 2)").head()
    // The expired generation must no longer time-travel...
    require(scala.util.Try(
      spark.sql(s"SELECT count(*) FROM $cat.`$name` VERSION AS OF 1")
        .collect()).isFailure,
      "generation 1 was expired; VERSION AS OF 1 must fail loudly")
    // ...and the procedure namespace must enumerate its surface.
    require(spark.sql(s"SHOW PROCEDURES IN $cat.system").collect()
      .length >= 4, "system namespace must list the maintenance procedures")

    val meta = Seq(
      ("a_compact", cRow.getLong(1), cRow.getLong(2), "", true),
      ("a_diff", dAdd.length.toLong, dRem.length.toLong, "changes",
        diffNeutral),
      ("b_rollback", rRow.getLong(1), rRow.getLong(2), "", true)) ++
      hRows.map(r =>
        ("c_hist", r.getLong(0), r.getLong(3), r.getString(1), tsOk)) ++
      Seq(("d_expire", eRow.getLong(1), eRow.getLong(2), "", true))
    meta.toDF("phase", "x", "y", "tag", "ok")
      .unionByName(
        spark.sql(s"""SELECT 'e_content' AS phase, count(*) AS x,
                     |  sum(o_orderkey) AS y FROM $cat.`$name`""".stripMargin)
          .select(col("phase"), col("x"), col("y"),
            lit("").as("tag"), lit(true).as("ok")))
      .orderBy("phase", "x")
  }

  /** SQL `INSERT OVERWRITE` through the catalog — the whole-table
    * replace half of the write surface (`INSERT INTO` appends): the
    * statement resolves through the connector's `SupportsOverwriteV2`
    * (whole-table predicate only — a `replaceWhere` is refused as
    * DELETE + INSERT), publishing the query's result as the next
    * generation's FULL content with recorded action "overwrite", the
    * base generation pinned before any task runs. Both gated phases
    * execute AFTER the overwrite: `a_before` time-travels to the
    * pre-overwrite snapshot (history is never rewritten), `b_after`
    * reads the replaced content. The drill then plants a STRAY file
    * under the table's data root and `CALL`s the `vacuum` procedure
    * in its quiesced window (min_age_ms = 0): exactly the orphan
    * deletes, every referenced file — including the pre-overwrite
    * generation's, still reachable via time travel — survives, and
    * phase `c_vacuumed` re-reads the content byte-identically.
    */
  def catalogOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_overwrite")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    SnapshotTable.commit(orders.repartition(2), t, 1L)
    orders.createOrReplaceTempView("catalog_overwrite_src")

    spark.sql(
      s"""INSERT OVERWRITE $cat.`$name`
         |SELECT o_orderkey, o_totalprice + 10 AS o_totalprice
         |FROM catalog_overwrite_src WHERE o_orderkey % 2 = 0""".stripMargin)
    require(SnapshotTable.commitAction(spark, t, 2L).contains("overwrite"),
      "INSERT OVERWRITE must commit with the recorded action 'overwrite'")

    // Orphan-reclamation through SQL: a stray unreferenced file must be
    // the ONLY thing vacuum touches.
    val stray = new org.apache.hadoop.fs.Path(s"$t/data/stray.parquet")
    val fs = stray.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(stray).close()
    val v = spark.sql(s"CALL $cat.system.vacuum('$name', 0)").head()
    require(v.getLong(2) == 1L,
      s"vacuum must remove exactly the planted stray; removed ${v.getLong(2)}")
    require(!fs.exists(stray), "the stray file must be gone")

    def phase(tag: String, from: String): DataFrame = spark.sql(
      s"""SELECT '$tag' AS phase, count(*) AS n_rows,
         |  sum(o_orderkey) AS key_sum,
         |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM $from""".stripMargin)
    phase("a_before", s"$cat.`$name` VERSION AS OF 1")
      .unionByName(phase("b_after", s"$cat.`$name`"))
      .unionByName(phase("c_vacuumed", s"$cat.`$name`"))
      .orderBy("phase")
  }

  /** STREAMING STARTING OFFSETS — the Delta `startingVersion` /
    * `startingTimestamp` idiom on the snapshot source, under the value
    * gate: a new consumer of a 100 TB table begins DELIVERY at the
    * named generation (its first hop is the manifest diff against the
    * predecessor — history before it is never read), or at the
    * earliest generation committed at-or-after a timestamp resolved
    * through the manifest `.ts=` markers. Three committed key-residue
    * slices, two fresh consumers: `a_gen2` starts at generation 2
    * (slices 2+3 arrive, slice 1 skipped), `b_ts3` starts at
    * generation 3's own commit stamp (slice 3 alone). Each phase's
    * aggregates re-derive from the residue predicates in the oracle,
    * so the gate pins both that LATER content arrives exactly and
    * that SKIPPED history stays skipped.
    */
  def streamStartAt(spark: SparkSession, dir: String): DataFrame = {
    val t = freshTable(spark, "stream_startat")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    def slice(r: Int) = orders.filter(col("o_orderkey") % 3 === r)
    SnapshotTable.commit(slice(1), t, 1L)
    SnapshotTable.commit(slice(2), t, 2L, carryFrom = Some(1L))
    SnapshotTable.commit(slice(0), t, 3L, carryFrom = Some(2L))

    def tailFrom(tag: String, opts: (String, String)*): DataFrame = {
      val name = s"startat_${tag}_${SnapshotTable.attemptName()}"
      val r = spark.readStream
        .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
        .option("path", t)
      val q = opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", graft.Scratch.dir(s"${name}_ckpt"))
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).agg(
        count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"),
        expr("CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
          .as("price_cents"))
        .select(lit(tag).as("phase"), col("n_rows"), col("key_sum"),
          col("price_cents"))
    }
    val ts3 = SnapshotTable.commitTimestamp(spark, t, 3L).getOrElse(
      throw new IllegalStateException("gen 3 must carry a commit stamp"))
    tailFrom("a_gen2", "startingGeneration" -> "2")
      .unionByName(tailFrom("b_ts3", "startingTimestamp" -> ts3.toString))
      .orderBy("phase")
  }

  /** The [[streamByteCap]] synthetic single-row file keys — literals so
    * the oracle recomputes every phase without touching the layout.
    */
  val ByteCapSmallKeys: Seq[Long] = (1L to 6L).map(10000000L + _)
  val ByteCapHopKeys: Seq[Long] = Seq(20000001L, 20000002L)

  /** BYTE-capped streaming admission (`maxBytesPerBatch`) under size
    * skew — the case a file-count cap is blind to: generation 1 holds
    * ONE large file (the whole orders table) next to six tiny
    * single-row files, and the cap is set to the large file's RECORDED
    * bytes (read off the manifest, the same source the offset math
    * uses — zero per-file I/O at runtime). The tail runs in two legs,
    * RESTARTED MID-LOAD from its checkpoint: a `Trigger.Once` leg
    * delivers exactly the first chunk — the large file ALONE, because
    * admitting any neighbor would breach the cap — then the resumed
    * leg delivers the six smalls as one grouped chunk (their sum is
    * far under the cap) followed by a post-load append hop. Phase
    * `a_first` gates the first chunk's content against the orders
    * table; `b_rest` gates the remainder against the key literals; the
    * `ok` booleans bind the BATCH STRUCTURE (1 chunk, then exactly 2
    * batches with the smalls grouped and the hop separate) — the
    * byte-cap mechanics themselves, not just the union. Exactly-once
    * across the restart is structural: a lost or duplicated chunk
    * breaks a phase's row count.
    */
  def streamByteCap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = freshTable(spark, "stream_bytecap")
    val orders = Tables.orders(spark, dir).select(col("o_orderkey").as("k"))
    // One LARGE file (sorts first: "large" < "small_*") + six tiny
    // single-row files, published as one generation.
    val large = s"$t/data/gen=1/large"
    orders.coalesce(1).write.parquet(large)
    val smalls = ByteCapSmallKeys.map { k =>
      val p = s"$t/data/gen=1/small_${k % 100}"
      Seq(k).toDF("k").coalesce(1).write.parquet(p)
      graft.sources.SnapshotTable.freshFiles(spark, p).head
    }
    val largeFile = graft.sources.SnapshotTable.freshFiles(spark, large).head
    SnapshotTable.publishAppend(spark, t, 1L, (largeFile +: smalls).sorted,
      carryFrom = None)
    // The cap: exactly the large file's recorded bytes — it ships
    // alone; the smalls sum to a few KB and group into one chunk.
    val cap = SnapshotTable.fileMeta(spark, Seq(largeFile)).head._3

    val perBatch =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
    def tail(trigger: Option[org.apache.spark.sql.streaming.Trigger]) = {
      val w = spark.readStream
        .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
        .option("path", t).option("maxBytesPerBatch", cap.toString).load()
        .writeStream
        .option("checkpointLocation", s"$t/ckpt")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            // One aggregate row per batch — driver state is O(batches).
            val r = b.agg(count(lit(1)), coalesce(sum("k"), lit(0L)),
              count(when(col("k") >= 10000000L && col("k") < 20000000L, 1)),
              count(when(col("k") >= 20000000L, 1))).head()
            if (r.getLong(0) > 0L)
              perBatch.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
            ()
        }
      trigger.fold(w)(w.trigger).start()
    }
    // Leg 1: exactly ONE chunk, then the query stops mid-load.
    val q1 = tail(Some(org.apache.spark.sql.streaming.Trigger.Once()))
    try q1.awaitTermination() finally q1.stop()
    val first = perBatch.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
    // A post-load hop committed between the legs: the restart must
    // finish the chunked load, then take the append hop as its own
    // batch.
    SnapshotTable.commit(ByteCapHopKeys.toDF("k"), t, 2L, carryFrom = Some(1L))
    val q2 = tail(None)
    try q2.processAllAvailable() finally q2.stop()
    val rest = perBatch.toArray(Array.empty[(Long, Long, Long, Long)]).toSeq
      .drop(first.size)

    val firstOk = first.size == 1 &&
      first.head._3 == 0L && first.head._4 == 0L // the large file ALONE
    val restOk = rest.size == 2 &&
      rest.exists(b => b._3 == 6L && b._1 == 6L) && // smalls grouped
      rest.exists(b => b._4 == 2L && b._1 == 2L) // the hop separate
    Seq(
      ("a_first", first.map(_._1).sum, first.map(_._2).sum, firstOk),
      ("b_rest", rest.map(_._1).sum, rest.map(_._2).sum, restOk))
      .toDF("phase", "n_rows", "key_sum", "ok").orderBy("phase")
  }

  /** METADATA TABLES through the catalog — the Iceberg `t.files` /
    * `t.history` inspection idiom as plain SQL relations
    * ([[graft.streaming.SnapshotMetaTable]]): `<cat>.<table>.files`
    * serves the LATEST snapshot's file inventory (path, footer row
    * count, bytes — all driver-side metadata, no data pages) and
    * `<cat>.<table>.history` the per-generation lineage. The drill
    * commits a 3-file generation, compacts to 2, and gates: the files
    * relation must show exactly the post-compaction inventory whose
    * row counts SUM to the table's cardinality (phase `a_files`; byte
    * sizes are compression-dependent, bound as a positivity boolean),
    * and the history relation must carry both generations' actions
    * and file counts with strictly-increasing commit stamps (phase
    * `b_hist`, the stamps as the monotonicity boolean).
    */
  def catalogMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_meta")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    SnapshotTable.commit(orders.repartition(3), t, 1L)
    SnapshotTable.compact(spark, t, 1L, files = 2)

    val files = spark.sql(
      s"""SELECT count(*) AS n_files, sum(n_rows) AS total_rows,
         |  min(bytes) > 0 AS bytes_ok,
         |  CASE WHEN count_if(kind = 'data') = count(*) THEN 'data'
         |       ELSE 'mixed' END AS kinds
         |FROM $cat.`$name`.files""".stripMargin).head()
    val hist = spark.sql(
      s"SELECT * FROM $cat.`$name`.history ORDER BY generation").collect()
    // (ts, generation) lexicographic: the writer monotonicizes stamps
    // (max(now, prev+1)), so strict ts increase is expected — but the
    // gate's boolean tolerates the theoretical same-ms pair by
    // tie-breaking on the generation, pinned separately by
    // SnapshotTableSpec's frozen-clock commit pair.
    val ts = hist.map(r => if (r.isNullAt(2)) None else Some(r.getLong(2)))
    val tsOk = ts.forall(_.isDefined) &&
      hist.map(r => (r.getLong(2), r.getLong(0))).sliding(2).forall(p =>
        p.length < 2 || (p(0)._1 < p(1)._1 ||
          (p(0)._1 == p(1)._1 && p(0)._2 < p(1)._2)))

    (Seq(("a_files", files.getLong(0), files.getLong(1), files.getString(3),
        files.getBoolean(2))) ++
      hist.map(r =>
        ("b_hist", r.getLong(0), r.getLong(3), r.getString(1), tsOk)))
      .toDF("phase", "x", "y", "tag", "ok")
      .orderBy("phase", "x")
  }

  /** `CREATE TABLE AS SELECT` through the catalog — the statement
    * that DEFINES a table from SQL ([[graft.streaming.SnapshotCatalog]]
    * implements `StagingTableCatalog`, so Spark takes the ATOMIC
    * staged path: the query's output is invisible until
    * `commitStagedChanges` publishes generation 1 through the same
    * first-writer-wins manifest commit as every writer — a racing
    * CTAS or library commit loses loudly, never half-defines). The
    * drill creates from the odd-key projection, requires the recorded
    * "create" action, then INSERTs the even half and gates BOTH the
    * pinned creation snapshot (`a_created` time-travels to gen 1,
    * executed after the insert — snapshot isolation) and the merged
    * latest against the split predicates. The stored money column is
    * `DECIMAL(18,4)` — the type TPC-H money math actually uses — so
    * the connector's decimal encode (INT64-unscaled parquet) and
    * decode sit under the exact value gate: `price_e4` is the
    * decimal's integral scale-4 sum, no floating rounding anywhere.
    */
  def catalogCtas(spark: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_ctas")
    val name = new org.apache.hadoop.fs.Path(t).getName
    Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
      .createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE $cat.`$name` AS " +
      "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS o_price " +
      "FROM ctas_src WHERE o_orderkey % 2 = 1")
    require(SnapshotTable.commitAction(spark, t, 1L).contains("create"),
      "CTAS must commit generation 1 with the recorded action 'create'")
    require(spark.table(s"$cat.`$name`").schema("o_price").dataType ==
        org.apache.spark.sql.types.DecimalType(18, 4),
      "CTAS must persist the DECIMAL(18,4) money column exactly")
    def phase(tag: String, from: String): DataFrame = spark.sql(
      s"""SELECT '$tag' AS phase, count(*) AS n_rows,
         |  sum(o_orderkey) AS key_sum,
         |  CAST(sum(o_price * 10000) AS BIGINT) AS price_e4
         |FROM $from""".stripMargin)
    val created = phase("a_created", s"$cat.`$name` VERSION AS OF 1")
    spark.sql(s"INSERT INTO $cat.`$name` " +
      "SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) " +
      "FROM ctas_src WHERE o_orderkey % 2 = 0")
    created.unionByName(phase("b_inserted", s"$cat.`$name`"))
      .orderBy("phase")
  }

  /** The `partitions` METADATA relation — "how is this table laid
    * out, and is it skewed?" as plain SQL: one row per identity-
    * partition value of the latest snapshot, counts summed from the
    * manifest's recorded rows (zero data I/O at any table size). The
    * drill creates a partitioned CTAS with DETERMINISTIC per-value
    * file counts, INSERTs a second routed batch into one partition,
    * and the relation must report the post-insert layout exactly —
    * per-value file counts included, so a maintenance job can spot
    * the compaction-needing partition from SQL alone.
    */
  def catalogPartMeta(spark: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_partmeta")
    val name = new org.apache.hadoop.fs.Path(t).getName
    Tables.orders(spark, dir).select("o_orderkey")
      .createOrReplaceTempView("partmeta_src")
    spark.sql(s"CREATE TABLE $cat.`$name` PARTITIONED BY (bkt) AS " +
      "SELECT o_orderkey, CAST(o_orderkey % 4 AS INT) AS bkt " +
      "FROM partmeta_src DISTRIBUTE BY o_orderkey % 4")
    spark.sql(s"INSERT INTO $cat.`$name` " +
      "SELECT o_orderkey + 1000000000, CAST(2 AS INT) " +
      "FROM partmeta_src WHERE o_orderkey % 4 = 2 DISTRIBUTE BY o_orderkey % 4")
    spark.sql(
      s"""SELECT value, n_files, n_rows FROM $cat.`$name`.partitions
         |ORDER BY value""".stripMargin)
  }

  /** `CALL system.compact_partition` — the maintenance op the
    * `partitions` relation points at: one identity partition's
    * accumulated small files bin-pack into a fresh file committed as
    * a SUBSET rewrite (every other file carries verbatim — O(the
    * partition), never O(table), the property whole-snapshot compact
    * cannot offer at 100 TB), re-stamped with the partition's point
    * zone row so pruning keeps working across maintenance. Phases
    * gate the procedure's own output (3 files in, new generation),
    * the post-compact layout through the partitions relation, the
    * planned-file count of a partition probe (still 1 — the fresh
    * zone row is load-bearing), and content-neutrality through time
    * travel to the pre-compact snapshot.
    */
  def catalogCompactPartition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_compactpart")
    val name = new org.apache.hadoop.fs.Path(t).getName
    Tables.orders(spark, dir).select("o_orderkey")
      .createOrReplaceTempView("compactpart_src")
    spark.sql(s"CREATE TABLE $cat.`$name` PARTITIONED BY (bkt) AS " +
      "SELECT o_orderkey, CAST(o_orderkey % 4 AS INT) AS bkt " +
      "FROM compactpart_src DISTRIBUTE BY o_orderkey % 4")
    Seq(1000000000L, 2000000000L).foreach { off =>
      spark.sql(s"INSERT INTO $cat.`$name` " +
        s"SELECT o_orderkey + $off, CAST(2 AS INT) " +
        "FROM compactpart_src WHERE o_orderkey % 4 = 2 " +
        "DISTRIBUTE BY o_orderkey % 4")
    }
    val call = spark.sql(
      s"CALL $cat.system.compact_partition('$name', 2, 1)").head()
    val (before, newGen) = (call.getLong(2), call.getLong(3))
    val pm = spark.sql(
      s"SELECT n_files, n_rows FROM $cat.`$name`.partitions WHERE value = 2")
      .head()
    val probe = spark.sql(
      s"""SELECT count(*) AS n, sum(o_orderkey) AS ks
         |FROM $cat.`$name` WHERE bkt = 2""".stripMargin).head()
    val planned = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1).toLong
    val travel = spark.sql(
      s"""SELECT count(*) FROM $cat.`$name` VERSION AS OF ${newGen - 1}
         |WHERE bkt = 2""".stripMargin).head().getLong(0)
    Seq((before, newGen, pm.getLong(0), pm.getLong(1),
      planned, probe.getLong(0), probe.getLong(1), travel))
      .toDF("files_before", "new_gen", "pm_files", "pm_rows",
        "planned", "n_probe", "key_sum", "n_travel")
  }

  /** `CALL system.analyze` — the ANALYZE command that turns a PLAIN
    * lineage into a pruning-capable one without rewriting a byte:
    * zone maps (+ per-column null counts) land in a fresh file-neutral
    * generation from O(files) parquet-footer reads. The drill's table
    * starts with a stats-less manifest (a range probe plans ALL
    * files), runs `CALL system.analyze(tbl, 'o_orderkey')` from SQL,
    * and the SAME probe must then plan exactly the one intersecting
    * slice — value-gated relationally — while bare MIN/MAX/COUNT
    * begin serving as a one-row local relation (the aggregate
    * pushdown's coverage requirement met by the analyze alone).
    */
  def catalogAnalyze(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_analyze")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val src = Tables.orders(spark, dir).select("o_orderkey")
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + 4) / 4
    val gen1Dir = s"$t/data/gen=1"
    src.withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishAppend(spark, t, 1L, paths, carryFrom = None)
    def probe(): org.apache.spark.sql.Row = spark.sql(
      s"""SELECT count(*) AS n, sum(o_orderkey) AS ks FROM $cat.`$name`
         |WHERE o_orderkey BETWEEN $w AND ${2 * w - 1}""".stripMargin).head()
    val pre = probe()
    val prePlanned = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1).toLong
    val call = spark.sql(
      s"CALL $cat.system.analyze('$name', 'o_orderkey')").head()
    val newGen = call.getLong(1)
    val post = probe()
    val postPlanned = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1).toLong
    require(post.getLong(0) == pre.getLong(0) &&
      post.getLong(1) == pre.getLong(1),
      "analyze must be content-neutral")
    val mm = spark.sql(s"SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx, " +
      s"count(*) AS n FROM $cat.`$name`")
    val mmRow = mm.head()
    val mmPlan = mm.queryExecution.executedPlan.toString
    val mmOk = mmPlan.contains("LocalTableScan") && !mmPlan.contains("BatchScan")
    Seq((paths.size.toLong, prePlanned, newGen, postPlanned,
      post.getLong(0), post.getLong(1),
      mmRow.getLong(0), mmRow.getLong(1), mmRow.getLong(2), mmOk))
      .toDF("n_files", "pre_planned", "new_gen", "post_planned",
        "n", "ks", "key_min", "key_max", "n_total", "mm_ok")
  }

  /** STORAGE-PARTITIONED JOIN — the shuffle-free fact⋈fact shape
    * partitioned tables exist for: both sides report key-grouped
    * partitioning over their identity partition column (one input
    * partition per value, built from the same manifest zone rows that
    * drive partition pruning), and Spark's key-grouped execution
    * co-locates matching partitions WITHOUT exchanging either side —
    * at 100 TB that is the difference between joining in place and
    * shuffling two tables over the wire. The drill joins two
    * partitioned CTAS tables on (partition key + row key) under a
    * conf-isolated session (v2 bucketing on, broadcast off so a
    * silent degrade would reintroduce the exchange), REQUIRES a
    * sort-merge/shuffled-hash join with ZERO shuffles beneath it, and
    * value-gates the joined content against the split predicates.
    */
  def connectorSpj(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = spark.newSession()
    s.conf.set(
      org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED.key, "true")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cat = ensureCatalog(s)
    val (t1, t2) = (freshTable(s, "spj_a"), freshTable(s, "spj_b"))
    val (n1, n2) = (new org.apache.hadoop.fs.Path(t1).getName,
      new org.apache.hadoop.fs.Path(t2).getName)
    Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .createOrReplaceTempView("spj_src")
    s.sql(s"CREATE TABLE $cat.`$n1` PARTITIONED BY (bkt) AS " +
      "SELECT o_orderkey, o_custkey, CAST(o_orderkey % 8 AS INT) AS bkt " +
      "FROM spj_src WHERE o_orderkey % 2 = 1 DISTRIBUTE BY o_orderkey % 8")
    s.sql(s"CREATE TABLE $cat.`$n2` PARTITIONED BY (bkt) AS " +
      "SELECT o_orderkey, o_custkey, CAST(o_orderkey % 8 AS INT) AS bkt " +
      "FROM spj_src WHERE o_orderkey % 3 = 0 DISTRIBUTE BY o_orderkey % 8")
    val q = s.sql(
      s"""SELECT count(*) AS n, sum(a.o_orderkey) AS key_sum,
         |  sum(a.o_custkey + b.o_custkey) AS cust2_sum
         |FROM $cat.`$n1` a JOIN $cat.`$n2` b
         |  ON a.bkt = b.bkt AND a.o_orderkey = b.o_orderkey""".stripMargin)
    val row = q.head()
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
    val ok = joins.nonEmpty && joins.flatMap(j => flatten(j).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]))
      .isEmpty
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), ok))
      .toDF("n", "key_sum", "cust2_sum", "shuffle_free")
  }

  /** `ALTER TABLE RENAME COLUMN` / `DROP COLUMN` — the rest of the
    * DDL lifecycle, still METADATA-ONLY: a rename rewrites ZERO data
    * (the drill requires verbatim files) and serves old files through
    * the recorded alias chain, so a read spanning pre-rename and
    * post-rename files sees ONE column; a drop tombstones the field
    * (never served, never resurrected by the footer union) while time
    * travel before each alter keeps that snapshot's own names. Phases
    * gate the mixed-file content under the new name, the old name via
    * `VERSION AS OF`, and the post-drop narrow schema — with column
    * counts, the half a value hash cannot see.
    */
  def catalogEvolve2(spark: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_evolve2")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    orders.createOrReplaceTempView("evolve2_src")
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 2 === 1).repartition(2), t, 1L)
    val beforeFiles = SnapshotTable.listFiles(spark, t, 1L)
    spark.sql(s"ALTER TABLE $cat.`$name` RENAME COLUMN o_custkey TO cust")
    require(SnapshotTable.listFiles(spark, t, 2L) == beforeFiles,
      "RENAME COLUMN must be metadata-only: files carry verbatim")
    spark.sql(s"INSERT INTO $cat.`$name` " +
      "SELECT o_orderkey, o_custkey FROM evolve2_src WHERE o_orderkey % 2 = 0")
    def phase(tag: String, from: String, custExpr: String): DataFrame = {
      val nCols = spark.sql(s"SELECT * FROM $from LIMIT 0").columns.length.toLong
      spark.sql(
        s"""SELECT '$tag' AS phase, count(*) AS n_rows,
           |  sum(o_orderkey) AS key_sum, $custExpr AS cust_sum,
           |  CAST($nCols AS BIGINT) AS n_cols
           |FROM $from""".stripMargin)
    }
    val a = phase("a_renamed", s"$cat.`$name`", "sum(cust)")
    val b = phase("b_narrow", s"$cat.`$name` VERSION AS OF 1", "sum(o_custkey)")
    spark.sql(s"ALTER TABLE $cat.`$name` DROP COLUMN cust")
    val c = phase("c_dropped", s"$cat.`$name`", "CAST(0 AS BIGINT)")
    a.unionByName(b).unionByName(c).orderBy("phase")
  }

  /** PARTITIONED catalog tables — `CREATE TABLE ... PARTITIONED BY
    * (bkt) AS SELECT ...`: writes route rows into per-value files
    * (one identity partition per directory) and record
    * `min = max = value` zone rows from the WRITER's own routing, so
    * a partition predicate prunes files through the ordinary manifest
    * admission — the first, directory-granular prune a 100 TB table
    * applies before any finer index loads. Value-gated: the planned
    * file count under `bkt = 3` must be EXACTLY the partition's file
    * count (1 after CTAS, 2 after an INSERT INTO lands a second file
    * in the partition — proving appends stay partition-routed), and a
    * row-level UPDATE over one partition keeps the whole table exact
    * (DML on a partitioned lineage). `DISTRIBUTE BY` pins file counts
    * (one file per (task, value) pair, each value in one task).
    */
  def catalogPartitioned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_part")
    val name = new org.apache.hadoop.fs.Path(t).getName
    Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .createOrReplaceTempView("part_src")
    spark.sql(s"CREATE TABLE $cat.`$name` PARTITIONED BY (bkt) AS " +
      "SELECT o_orderkey, o_custkey, CAST(o_orderkey % 8 AS INT) AS bkt " +
      "FROM part_src DISTRIBUTE BY o_orderkey % 8")
    require(SnapshotTable.partitionColumn(spark, t).contains("bkt"),
      "CTAS must record the identity partition column")
    require(SnapshotTable.commitAction(spark, t, 1L).contains("create"),
      "partitioned CTAS must commit generation 1 as 'create'")
    val nFilesG1 = SnapshotTable.listFiles(spark, t, 1L).size.toLong
    def point(): org.apache.spark.sql.Row = spark.sql(
      s"""SELECT count(*) AS n, sum(o_orderkey) AS ks
         |FROM $cat.`$name` WHERE bkt = 3""".stripMargin).head()
    val a = point()
    val plannedA = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1).toLong
    spark.sql(s"INSERT INTO $cat.`$name` " +
      "SELECT o_orderkey + 1000000000, o_custkey, CAST(3 AS INT) " +
      "FROM part_src WHERE o_orderkey % 8 = 3 DISTRIBUTE BY o_orderkey % 8")
    val b = point()
    val plannedB = graft.streaming.SnapshotSource.lastPlan(t)
      .map(_._1).getOrElse(-1).toLong
    spark.sql(s"UPDATE $cat.`$name` SET o_custkey = o_custkey + 777 " +
      "WHERE bkt = 5")
    val c = spark.sql(
      s"""SELECT count(*) AS n, sum(o_orderkey) AS ks, sum(o_custkey) AS cs
         |FROM $cat.`$name`""".stripMargin).head()
    Seq((nFilesG1, plannedA, a.getLong(0), a.getLong(1),
      plannedB, b.getLong(0), b.getLong(1),
      c.getLong(0), c.getLong(1), c.getLong(2)))
      .toDF("n_files_g1", "planned_a", "n_a", "ks_a",
        "planned_b", "n_b", "ks_b", "n_c", "ks_c", "cs_c")
  }

  /** `ALTER TABLE ADD COLUMN` through the catalog — METADATA-ONLY
    * schema evolution: the evolved schema lands as a recorded-schema
    * sidecar on a fresh generation carrying the data files VERBATIM
    * (the drill REQUIRES the zero-rewrite), existing rows serve NULL
    * for the new column through the readers' resolve-by-name
    * contract, and a post-alter INSERT carries real values. Phases
    * gate the merged latest (NULL-counting aggregates re-derived by
    * the oracle from the split predicates), the narrow pre-alter
    * snapshot via time travel, and each phase's COLUMN COUNT — the
    * schema half the value hash alone cannot see.
    */
  def catalogAlter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_alter")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    orders.createOrReplaceTempView("ctas_alter_src")
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 2 === 1).repartition(2), t, 1L)
    val beforeFiles = SnapshotTable.listFiles(spark, t, 1L)
    spark.sql(s"ALTER TABLE $cat.`$name` ADD COLUMN o_priority BIGINT")
    require(SnapshotTable.commitAction(spark, t, 2L).contains("alter"),
      "ALTER must commit with the recorded action 'alter'")
    require(SnapshotTable.listFiles(spark, t, 2L) == beforeFiles,
      "ALTER ADD COLUMN must be metadata-only: files carry verbatim")
    spark.sql(s"INSERT INTO $cat.`$name` " +
      "SELECT o_orderkey, o_totalprice, o_orderkey % 5 FROM ctas_alter_src " +
      "WHERE o_orderkey % 2 = 0")
    def phase(tag: String, from: String, widened: Boolean): DataFrame = {
      val nCols = spark.sql(s"SELECT * FROM $from LIMIT 0").columns.length.toLong
      if (widened) spark.sql(
        s"""SELECT '$tag' AS phase, count(*) AS n_rows,
           |  sum(o_orderkey) AS key_sum,
           |  count(o_priority) AS with_col,
           |  CAST(sum(coalesce(o_priority, 0)) AS BIGINT) AS pri_sum,
           |  CAST($nCols AS BIGINT) AS n_cols
           |FROM $from""".stripMargin)
      else spark.sql(
        s"""SELECT '$tag' AS phase, count(*) AS n_rows,
           |  sum(o_orderkey) AS key_sum,
           |  CAST(0 AS BIGINT) AS with_col, CAST(0 AS BIGINT) AS pri_sum,
           |  CAST($nCols AS BIGINT) AS n_cols
           |FROM $from""".stripMargin)
    }
    phase("a_latest", s"$cat.`$name`", widened = true)
      .unionByName(phase("b_narrow", s"$cat.`$name` VERSION AS OF 1",
        widened = false))
      .orderBy("phase")
  }

  /** WRITE-AUDIT-PUBLISH as a pure SQL loop
    * (`<cat>.<table>.branch_<name>` +
    * `CALL system.publish_branch/abandon_branch` —
    * [[graft.streaming.SnapshotBranchTable]],
    * [[graft.streaming.SnapshotProcedures]]): `INSERT INTO` the branch
    * relation STAGES the batch (invisible to every lineage reader —
    * the drill REQUIRES staging committed no generation), the audit is
    * a plain SELECT over the staged snapshot, a green audit publishes
    * BY REFERENCE through the CALL, and a red one abandons — the drill
    * runs BOTH legs (the `audit` branch publishes; a second `reject`
    * branch abandons and its rows must never reach the lineage).
    * Phases gate the staged content, the isolated main table, and the
    * published union against the split predicates; the retire phase
    * binds the procedure results and gone-ness booleans.
    */
  def catalogBranch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_branch")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    orders.createOrReplaceTempView("branch_src")
    SnapshotTable.commit(
      orders.filter(col("o_orderkey") % 2 === 1).repartition(2), t, 1L)
    // WRITE: stage the even half from SQL.
    spark.sql(s"INSERT INTO $cat.`$name`.branch_audit " +
      "SELECT o_orderkey, o_totalprice FROM branch_src WHERE o_orderkey % 2 = 0")
    // Staging is INVISIBLE to the lineage: no generation was committed,
    // and the branch is addressable for the audit.
    require(SnapshotTable.generations(spark, t) == Seq(1L),
      "staging a branch must not commit a generation")
    require(SnapshotTable.branches(spark, t) == Seq("audit"),
      "the staged branch must be listed")
    def phase(tag: String, from: String, ok: Boolean): DataFrame = spark.sql(
      s"""SELECT '$tag' AS phase, count(*) AS n_rows,
         |  sum(o_orderkey) AS key_sum,
         |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
         |  $ok AS ok
         |FROM $from""".stripMargin)
    // DISCOVERY: the branches metadata relation lists the staged batch
    // with its recorded footprint — how an auditor finds work from SQL.
    val bRow = spark.sql(
      s"SELECT branch, n_files, n_rows FROM $cat.`$name`.branches").collect()
    val discovered = bRow.length == 1 && bRow.head.getString(0) == "audit" &&
      bRow.head.getLong(1) >= 1L &&
      bRow.head.getLong(2) == spark.sql(
        s"SELECT count(*) FROM $cat.`$name`.branch_audit").head().getLong(0)
    // AUDIT: the staged snapshot through plain SQL; the main table
    // still serves generation 1 (travel-pinned so the lazy read
    // survives the publish below).
    val staged = phase("a_staged", s"$cat.`$name`.branch_audit", ok = discovered)
      .localCheckpoint()
    val isolated = phase("b_isolated", s"$cat.`$name` VERSION AS OF 1",
      ok = true)
    // PUBLISH the green audit by reference.
    val pub = spark.sql(
      s"CALL $cat.system.publish_branch('$name', 'audit')").head()
    val pubOk = pub.getLong(2) == 2L &&
      SnapshotTable.generations(spark, t) == Seq(1L, 2L)
    // REJECT leg: a second branch stages, audits red, abandons — its
    // rows must never reach the lineage.
    spark.sql(s"INSERT INTO $cat.`$name`.branch_reject " +
      "SELECT o_orderkey, -1.0 FROM branch_src WHERE o_orderkey % 10 = 3")
    spark.sql(s"CALL $cat.system.abandon_branch('$name', 'reject')")
    val retired = SnapshotTable.branches(spark, t).isEmpty &&
      SnapshotTable.generations(spark, t) == Seq(1L, 2L) && {
        try { spark.sql(s"SELECT * FROM $cat.`$name`.branch_audit").collect(); false }
        catch { case _: Exception => true }
      } &&
      spark.sql(s"SELECT count(*) FROM $cat.`$name` WHERE o_totalprice < 0")
        .head().getLong(0) == 0L
    staged.unionByName(isolated)
      .unionByName(phase("c_published", s"$cat.`$name`", ok = pubOk))
      .unionByName(Seq(("d_retired", 0L, 0L, 0L, retired))
        .toDF("phase", "n_rows", "key_sum", "price_cents", "ok"))
      .orderBy("phase")
  }

  /** The SQL lifecycle TERMINATOR — `CALL system.drop` completing the
    * create→use→retire loop ([[graft.sources.SnapshotTable.drop]]):
    * the drill CTAS-creates, appends (two generations), then walks the
    * GUARDS — a staged WAP branch refuses the drop (an audit in
    * flight), surviving history refuses it (time travel still serves),
    * and only after abandon + expire does the un-forced drop retire
    * the table, manifests first. `tableExists` must flip false and the
    * NAME must be reusable: a fresh CTAS redefines the table from the
    * odd-key half, value-gated like any create. Guard outcomes bind as
    * the `ok` booleans; content phases re-derive from the split
    * predicates.
    */
  def catalogDrop(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cat = ensureCatalog(spark)
    val t = freshTable(spark, "catalog_drop")
    val name = new org.apache.hadoop.fs.Path(t).getName
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice")
    orders.createOrReplaceTempView("drop_src")
    spark.sql(s"CREATE TABLE $cat.`$name` AS " +
      "SELECT o_orderkey, o_totalprice FROM drop_src WHERE o_orderkey % 2 = 1")
    spark.sql(s"INSERT INTO $cat.`$name` " +
      "SELECT o_orderkey, o_totalprice FROM drop_src WHERE o_orderkey % 2 = 0")
    def phase(tag: String, from: String, ok: Boolean): DataFrame = spark.sql(
      s"""SELECT '$tag' AS phase, count(*) AS n_rows,
         |  sum(o_orderkey) AS key_sum, $ok AS ok
         |FROM $from""".stripMargin)
    val created = phase("a_created", s"$cat.`$name`", ok = true)
      .localCheckpoint()
    def refuses(substr: String): Boolean =
      try {
        spark.sql(s"CALL $cat.system.drop('$name', false)").collect()
        false
      } catch { case e: Exception =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(c => Option(c.getMessage).exists(_.contains(substr)))
      }
    // Guard 1: an audit in flight refuses.
    SnapshotTable.stage(
      orders.filter(col("o_orderkey") % 100 === 7), t, "audit")
    val branchGuard = refuses("staged for audit")
    spark.sql(s"CALL $cat.system.abandon_branch('$name', 'audit')")
    // Guard 2: unexpired history refuses (gen 1 still time-travels).
    val histGuard = refuses("expire history")
    spark.sql(s"CALL $cat.system.expire('$name', 2)")
    // The un-forced drop now retires the table; the name frees.
    val dropped = spark.sql(s"CALL $cat.system.drop('$name', false)").head()
    val gone = dropped.getLong(1) == 1L &&
      SnapshotTable.generations(spark, t).isEmpty
    spark.sql(s"CREATE TABLE $cat.`$name` AS " +
      "SELECT o_orderkey, o_totalprice FROM drop_src WHERE o_orderkey % 2 = 1")
    created
      .unionByName(Seq(("b_guards", 0L, 0L,
        branchGuard && histGuard && gone)).toDF("phase", "n_rows", "key_sum", "ok"))
      .unionByName(phase("c_recreated", s"$cat.`$name`", ok = true))
      .orderBy("phase")
  }

  /** SCHEMA EVOLUTION at the snapshot layer — [[schemaEvolution]]'s
    * claim lifted from loose parquet directories onto versioned
    * lineage: generation 1 commits a 2-column shape, generation 2
    * APPENDS files carrying an added column (history's files carried
    * verbatim — evolving a schema rewrites nothing), and the evolved
    * snapshot reads back two ways that must agree exactly: the native
    * [[SnapshotTable.readAsMerged]] union (old files serve NULL for
    * the new column) and the DSv2 connector, whose inferred schema
    * merges the latest manifest's footers and whose row decoder
    * resolves fields BY NAME so missing columns degrade to nulls
    * instead of misaligned values. Gen 1 time-travels with its
    * original narrow schema. Counts of rows carrying the new column,
    * both key sums, and the floor-micros price sum value-gate all
    * three views against the split predicates.
    */
  def snapshotSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_schema_evo")
    val o = Tables.orders(spark, dir)
    SnapshotTable.commit(
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(SnapInitFiles),
      table, 1L)
    SnapshotTable.commit(
      o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        .repartition(SnapAppendFiles),
      table, 2L, carryFrom = Some(1L))
    def statsOf(phase: String, df: DataFrame, hasNew: Boolean): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
        (if (hasNew) count(col("o_orderpriority")) else lit(0L))
          .as("with_priority"),
        sum("o_orderkey").as("key_sum"),
        expr("CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT)")
          .as("price_micro"))
        .select(lit(phase).as("phase"), col("n_rows"), col("with_priority"),
          col("key_sum"), col("price_micro"))
    val connector = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).option("generation", 2L).load()
    statsOf("gen1", SnapshotTable.readAs(spark, table, 1L), hasNew = false)
      .unionByName(statsOf("merged",
        SnapshotTable.readAsMerged(spark, table, 2L), hasNew = true))
      .unionByName(statsOf("connector", connector, hasNew = true))
      .orderBy("phase")
  }

  /** Slices per layout epoch in [[snapshotEvolve]]. */
  val EvolveSlices = 4

  /** PARTITION EVOLUTION over the snapshot layer — the table's layout
    * policy changes MID-HISTORY and reads keep pruning correctly
    * across the mixed layout, because file skipping is driven by the
    * manifest's zone maps, never by directory structure (the Iceberg
    * partition-evolution contract; Hive-style layouts cannot do this
    * without a full rewrite). Epoch 1 lands the even-key half sliced
    * by o_orderkey; epoch 2 appends the odd-key half sliced by
    * o_custkey, carrying epoch 1's stats rows verbatim into the gen-2
    * manifest. Each probe then prunes tightly on the files laid out
    * FOR its dimension and admits the other epoch's conservatively —
    * and both probes' admitted-file counts, row counts, and sums are
    * value-gated: the per-slice min/max of every column ARE the
    * parquet footer stats by construction, so DuckDB re-derives the
    * exact admitted set relationally.
    */
  def snapshotEvolve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "snapshot_evolve")
    val src = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val Array((maxKey, maxCust)) =
      src.agg(max("o_orderkey"), max("o_custkey")).as[(Long, Long)].collect()
    def epoch(genDir: String, rows: DataFrame, sliceOn: String,
        maxV: Long): Seq[(String, String, Long, Long)] = {
      rows.withColumn("s",
          expr(s"($sliceOn * $EvolveSlices) div ${maxV + 1}").cast("int"))
        .repartition(col("s"))
        .write.partitionBy("s").mode("overwrite").parquet(genDir)
      SnapshotTable.footerStats(spark,
        graft.sources.SnapshotTable.freshFiles(spark, genDir),
        Seq("o_orderkey", "o_custkey"))
    }
    val stats1 = epoch(s"$table/data/gen=1",
      src.filter(col("o_orderkey") % 2 === 0), "o_orderkey", maxKey)
    SnapshotTable.publishStats(spark, table, 1L, stats1)
    val stats2 = epoch(s"$table/data/gen=2",
      src.filter(col("o_orderkey") % 2 =!= 0), "o_custkey", maxCust)
    SnapshotTable.publishStats(spark, table, 2L, stats1 ++ stats2)
    val total = (stats1 ++ stats2).map(_._1).distinct.size.toLong
    def probe(name: String, column: String, maxV: Long): DataFrame = {
      val (lo, hi) = (maxV / 4, maxV / 2)
      val pruned = SnapshotTable.readWhere(spark, table, 2L, column, lo, hi)
      pruned.agg(count(lit(1)).as("n_rows"), sum(column).as("key_sum"))
        .select(lit(name).as("probe"), lit(total).as("n_files_total"),
          lit(pruned.inputFiles.length.toLong).as("n_files_read"),
          col("n_rows"), col("key_sum"))
    }
    probe("custkey", "o_custkey", maxCust)
      .unionByName(probe("orderkey", "o_orderkey", maxKey))
      .orderBy("probe")
  }

  /** [[snapshotUpsert]] batch predicates and value deltas, mirrored in
    * the oracle: the upsert touches keys ≡ 1 (mod [[UpsertMod]]), the
    * later plain append re-inserts keys ≡ 1 (mod [[UpsertReinsertMod]]).
    */
  val UpsertMod = 10L
  val UpsertReinsertMod = 20L
  val UpsertDelta = 1000000L
  val ReinsertDelta = 2000000L

  /** MERGE/UPSERT over the snapshot layer
    * ([[SnapshotTable.commitUpsert]]) — the third mutation shape next
    * to copy-on-write MERGE ([[snapshotMerge]]) and whole-snapshot MoR
    * deletes ([[snapshotMor]]): ONE commit lands the changed rows and
    * a sequence-stamped equality-delete of their keys, so each key's
    * old row disappears and its new row survives without reading or
    * rewriting any base file — O(batch) at any table size. Generation
    * 3 then proves the Iceberg sequence-number semantic the stamp
    * exists for: a LATER plain append under already-upserted keys
    * outranks the older tombstone, so BOTH the upserted row and the
    * re-inserted row are visible (an append is not an upsert). Row
    * counts, the custkey sums shifted by the per-phase deltas, and the
    * data/tombstone file counts are all value-gated from the split
    * predicates and layout constants.
    */
  /** Memoized per-(JVM, sfDir) two-column init table ([[SnapInitFiles]]
    * files of the standard %4 split) that [[snapshotUpsert]]
    * shallow-clones per run — the same never-deletes-files safety
    * argument as [[cdcBaseArtifact]].
    */
  private val upsertBaseArtifact = new graft.SessionArtifact("upsert_base")

  def snapshotUpsert(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_upsert")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val base = orders.filter(col("o_orderkey") % 4 =!= 0)
    val baseTable = upsertBaseArtifact.ensure(dir) { p =>
      SnapshotTable.commit(base.repartition(SnapInitFiles), p, 1L)
    }
    SnapshotTable.cloneShallow(spark, baseTable, 1L, table)
    SnapshotTable.commitUpsert(
      base.filter(col("o_orderkey") % UpsertMod === 1)
        .withColumn("o_custkey", col("o_custkey") + UpsertDelta)
        .repartition(1),
      table, 2L, "o_orderkey", carryFrom = 1L)
    SnapshotTable.commit(
      base.filter(col("o_orderkey") % UpsertReinsertMod === 1)
        .withColumn("o_custkey", col("o_custkey") + ReinsertDelta)
        .repartition(1),
      table, 3L, carryFrom = Some(2L))
    Seq(1L, 2L, 3L).map { g =>
      SnapshotTable.readMor(spark, table, g, "o_orderkey")
        .agg(count(lit(1)).as("n_rows"), sum("o_custkey").as("cust_sum"))
        .select(lit(g).as("gen"),
          lit(SnapshotTable.listFiles(spark, table, g).size.toLong)
            .as("n_data_files"),
          lit(SnapshotTable.listDeleteFiles(spark, table, g).size.toLong)
            .as("n_delete_files"),
          col("n_rows"), col("cust_sum"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** [[snapshotCdcApply]] feed geometry, mirrored in the oracle: which
    * key residues change in each batch and by what value delta.
    */
  val CdcDupMod = 7L
  val CdcUpdMod = 5L
  val CdcUpd2Mod = 15L
  val CdcInsMod = 11L
  val CdcInsOffset = 10000000L
  val CdcD1 = 1000000L
  val CdcD2 = 2000000L
  val CdcD3 = 3000000L
  val CdcD4 = 4000000L

  /** The streaming CDC-APPLY sink driven in its batch form
    * ([[graft.streaming.SnapshotStream.upsertBatch]] — public exactly
    * so a backfill or a value gate can run the production step without
    * a streaming query around it): three change batches apply to the
    * table as three one-commit merge-on-read upserts, and every
    * generation's `readMor` view must equal the latest-change-per-key
    * reconstruction of the feed so far — which is exactly what the
    * oracle computes relationally (`max_by(v, lsn)` over the same
    * change predicates). Both CDC hazards ride the feed on purpose:
    * the initial load carries a SECOND version of every key ≡ 1 (mod
    * [[CdcDupMod]]), and batch 1 changes keys ≡ 1 (mod [[CdcUpd2Mod]])
    * TWICE — the in-batch `orderCol` dedupe must keep only the
    * highest-lsn row per key, or the seq-scoped tombstone would let
    * both survive. Tombstone accounting (one equality-delete file per
    * upsert commit) is value-gated as a constant column.
    */
  /** The CDC change feed both [[snapshotCdcApply]] and
    * [[streamMedallion]] apply — ONE construction, so the batch and
    * streaming twins (which also bind one oracle text) cannot drift.
    */
  private def cdcFeedBatches(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), col("o_custkey"))
    def chg(lsn: Long, delta: Long)(rows: DataFrame): DataFrame =
      rows.select(col("k"), lit(lsn).as("lsn"),
        (col("o_custkey") + delta).as("v"))
    Seq(
      chg(0L, 0L)(o)
        .unionByName(chg(1L, CdcD1)(o.filter(col("k") % CdcDupMod === 1))),
      chg(2L, CdcD2)(o.filter(col("k") % CdcUpdMod === 1))
        .unionByName(chg(3L, CdcD3)(o.filter(col("k") % CdcUpd2Mod === 1))),
      o.filter(col("k") % CdcInsMod === 2)
        .select((col("k") + CdcInsOffset).as("k"), lit(4L).as("lsn"),
          (col("o_custkey") + CdcD4).as("v")))
  }

  /** The per-generation report row shared by the CDC twins. */
  private def cdcGenReport(spark: SparkSession, table: String): DataFrame =
    Seq(1L, 2L, 3L).map { g =>
      SnapshotTable.readMor(spark, table, g, "k")
        .agg(count(lit(1)).as("n_rows"), sum("k").as("key_sum"),
          sum("v").as("val_sum"))
        .select(lit(g).as("gen"),
          lit(SnapshotTable.listDeleteFiles(spark, table, g).size.toLong)
            .as("n_delete_files"),
          col("n_rows"), col("key_sum"), col("val_sum"))
    }.reduce(_ unionByName _).orderBy("gen")

  /** Memoized per-(JVM, sfDir) post-initial-load CDC table (batch 0
    * applied — the feed's heaviest write: the full key space plus the
    * duplicate slice, in-batch lsn-deduped). [[snapshotCdcApply]]
    * SHALLOW-CLONES it per run (a driver-side manifest write) and
    * applies the remaining change batches privately: the clone never
    * deletes files, so the shared artifact is safe (the documented
    * clone caveat applies only to retiring operations — expire/vacuum
    * drills keep fully private tables for exactly that reason).
    */
  private val cdcBaseArtifact = new graft.SessionArtifact("cdc_base")

  def snapshotCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_cdc_apply")
    val batches = cdcFeedBatches(spark, dir)
    val base = cdcBaseArtifact.ensure(dir) { p =>
      graft.streaming.SnapshotStream.upsertBatch(
        batches.head, 0L, p, "k", orderCol = Some("lsn"))
    }
    SnapshotTable.cloneShallow(spark, base, 1L, table)
    batches.tail.zipWithIndex.foreach { case (b, id) =>
      graft.streaming.SnapshotStream.upsertBatch(
        b, (id + 1).toLong, table, "k", orderCol = Some("lsn"))
    }
    cdcGenReport(spark, table)
  }

  /** The MEDALLION pipeline EXECUTED AS A STREAM, under the driver's
    * value gate — the first registered query whose engine path is
    * Structured Streaming end to end, closing the standing "streaming
    * is spec-only" residual. The [[snapshotCdcApply]] change feed
    * commits as three APPEND generations of a bronze table (the raw
    * zone keeps every version); the DSv2 connector TAILS bronze with
    * `maxGensPerBatch = 1` (three real micro-batches, each planned as
    * a manifest diff) and [[graft.streaming.SnapshotStream.cdcApply]]
    * upserts each into a silver table with `orderCol` convergence. No
    * data ever routes through the driver — the stream's source and
    * sink are both distributed. Because bronze batch N becomes silver
    * generation N+1 exactly as [[snapshotCdcApply]]'s direct commits
    * do, the silver views bind the SAME oracle text verbatim:
    * streaming execution ≡ batch execution ≡ DuckDB, the strongest
    * equivalence form the gate can express.
    */
  /** Memoized per-(JVM, sfDir) READ-ONLY bronze change feed: the
    * 3-generation committed feed the medallion drill tails is
    * deterministic input staging, never mutated — built once per
    * session (silver and checkpoint stay per-run).
    */
  private val medallionBronzeArtifact =
    new graft.SessionArtifact("medallion_bronze")

  def streamMedallion(spark: SparkSession, dir: String): DataFrame = {
    val silver = freshTable(spark, "stream_medallion_silver")
    val ckpt = freshTable(spark, "stream_medallion_ckpt")
    val bronze = medallionBronzeArtifact.ensure(dir) { p =>
      cdcFeedBatches(spark, dir).zipWithIndex.foreach { case (b, i) =>
        SnapshotTable.commit(b, p, (i + 1).toLong,
          carryFrom = if (i == 0) None else Some(i.toLong))
      }
    }
    val q = graft.streaming.SnapshotStream.cdcApply(
      graft.streaming.StreamDrill.session(spark).readStream
        .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
        .option("path", bronze).option("maxGensPerBatch", "1").load(),
      silver, "k", ckpt, orderCol = Some("lsn")).start()
    try q.processAllAvailable() finally q.stop()
    cdcGenReport(spark, silver)
  }

  /** [[snapshotSegments]] lineage shape: this many segmented append
    * generations, each landing this many data files — both mirrored
    * in the oracle's constant columns.
    */
  val SegGens = 4
  val SegFiles = 2

  /** SEGMENTED manifests — the Iceberg manifest-list trade under the
    * value gate: each generation's manifest lists ONLY its own batch's
    * files plus one parent reference ([[SnapshotTable.commitSegment]]),
    * so COMMIT cost is O(batch files) at any table size, where the
    * default full-row carry rewrites an O(table files) manifest per
    * commit (at a million-file table that is the difference between a
    * kilobyte and a multi-megabyte metadata write on every append).
    * Reads resolve the parent chain ([[SnapshotTable.resolvedFiles]] —
    * O(chain) driver-side manifest reads; production checkpoints the
    * chain with a periodic full-carry commit, Delta's parquet-
    * checkpoint move). The report value-gates BOTH halves per
    * generation: the O(batch) commit evidence (own-manifest row count
    * = batch files + one parent ref, a constant from the fixture's
    * construction) and the chain-resolved CONTENT (cumulative slices,
    * recomputed relationally by DuckDB). Plain readers REFUSE a
    * segment manifest loudly, a broken chain (expired parent) fails at
    * resolution, and both guards are spec-pinned.
    */
  def snapshotSegments(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_segments")
    val orders = Tables.orders(spark, dir).select("o_orderkey")
    (1 to SegGens).foreach { g =>
      SnapshotTable.commitSegment(
        orders.filter(col("o_orderkey") % SegGens === (g - 1))
          .repartition(SegFiles),
        table, g.toLong,
        parent = if (g == 1) None else Some((g - 1).toLong))
    }
    (1 to SegGens).map { g =>
      SnapshotTable.readSegmented(spark, table, g.toLong)
        .agg(count(lit(1)).as("visible_rows"),
          sum("o_orderkey").as("key_sum"))
        .select(lit(g.toLong).as("gen"),
          lit(SnapshotTable.manifestRowCount(spark, table, g.toLong))
            .as("manifest_rows"),
          lit(SnapshotTable.resolvedFiles(spark, table, g.toLong).size.toLong)
            .as("files_visible"),
          col("visible_rows"), col("key_sum"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** The DSv2 connector over a SEGMENTED lineage, under the value
    * gate — the synergy that motivates segments: a segment's own
    * manifest IS the hop's added set, so tailing costs ONE small
    * manifest read per hop with no parent diff at all. The lineage
    * interleaves both protocols: three segmented appends, a FULL-CARRY
    * CHECKPOINT that re-publishes the chain-resolved files BY
    * REFERENCE (the Delta parquet-checkpoint move — zero data written,
    * plain readers work again, resolution depth resets), then another
    * segment rooted at the checkpoint. The tail must deliver exactly
    * one batch per commit — the three slices, an EMPTY checkpoint hop
    * (same files before and after ⇒ nothing re-delivered), and the
    * post-checkpoint slice — and the checkpoint generation's PLAIN
    * read gates as the cumulative content. All recomputed relationally
    * by DuckDB from the shared residue constants.
    */
  /** Memoized per-(JVM, sfDir) READ-ONLY interleaved segment lineage:
    * [[connectorSegments]] only ever TAILS and plain-reads the staged
    * table — input staging in the stream-bronze sense (checkpoint and
    * sink stay per-run), while [[snapshotSegments]] remains the
    * measured per-run rebuild of the segmented commit protocol itself.
    */
  private val segLineageArtifact =
    new graft.SessionArtifact("connector_seg_lineage")

  def connectorSegments(spark: SparkSession, dir: String): DataFrame = {
    val sink = freshTable(spark, "connector_segments_sink")
    val ckpt = freshTable(spark, "connector_segments_ckpt")
    val table = segLineageArtifact.ensure(dir) { p =>
      val orders = Tables.orders(spark, dir).select("o_orderkey")
      def slice(i: Int) =
        orders.filter(col("o_orderkey") % SegGens === i).repartition(SegFiles)
      SnapshotTable.commitSegment(slice(0), p, 1L, parent = None)
      SnapshotTable.commitSegment(slice(1), p, 2L, parent = Some(1L))
      SnapshotTable.commitSegment(slice(2), p, 3L, parent = Some(2L))
      SnapshotTable.publishAppend(spark, p, 4L,
        SnapshotTable.resolvedFiles(spark, p, 3L), carryFrom = None,
        action = "checkpoint")
      SnapshotTable.commitSegment(slice(3), p, 5L, parent = Some(4L))
    }
    val s = graft.streaming.StreamDrill.session(spark)
    val q = s.readStream
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).option("maxGensPerBatch", "1").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch(
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          graft.streaming.EventStream.writeBatch(b.toDF(), id, sink))
      .start()
    try q.processAllAvailable() finally q.stop()
    // readSinkOrEmpty: a drained-but-empty tail must reach the value
    // gate as zero batch rows (the -1 plain-read row still compares),
    // not as a path-not-found throw from a bare spark.read.
    val tail = graft.streaming.StreamDrill.readSinkOrEmpty(spark, sink,
        "o_orderkey BIGINT, batch_id INT")
      .groupBy(col("batch_id").cast("long").as("batch_id"))
      .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
    // The checkpoint restores PLAIN readability mid-lineage: readAs of
    // gen 4 (which a segment manifest refuses) serves the cumulative
    // content, reported as the batch_id = -1 row.
    val plain = SnapshotTable.readAs(spark, table, 4L)
      .agg(count(lit(1)).as("cnt"), sum("o_orderkey").as("key_sum"))
      .select(lit(-1L).as("batch_id"), col("cnt"), col("key_sum"))
    tail.unionByName(plain).orderBy("batch_id")
  }

  /** Key residue deleted by [[snapshotMor]], mirrored in the oracle. */
  val MorDeleteMod = 10L

  /** Output files of [[snapshotMor]]'s materialization commit. */
  val MorMaterializeFiles = 2

  /** MERGE-ON-READ deletes over the snapshot layer — the other half of
    * the COW/MoR trade next to [[snapshotMerge]]'s copy-on-write:
    *  - gen 1: the base table ([[SnapInitFiles]] files);
    *  - gen 2: DELETE WHERE key % [[MorDeleteMod]] = 3 as ONE tombstone
    *    commit — the manifest carries every base data file VERBATIM
    *    plus one delete file, so the delete costs O(deleted keys), not
    *    a table rewrite; readers pay the anti-join instead
    *    ([[SnapshotTable.readMor]]);
    *  - gen 3: the materialization — `commit(readMor(gen 2))` rewrites
    *    the VISIBLE rows and purges the tombstones (plain `compact`
    *    REFUSES a tombstoned generation: it reads pure data files and
    *    would resurrect the deleted rows — spec-pinned).
    * Per generation the report carries data/tombstone file counts from
    * the manifest and the VISIBLE content stats; gens 2 and 3 must
    * agree on content while differing in file shape. All value-gated
    * from the delete predicate and layout constants.
    */
  def snapshotMor(spark: SparkSession, dir: String): DataFrame = {
    val table = freshTable(spark, "snapshot_mor")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    SnapshotTable.commit(orders.repartition(SnapInitFiles), table, 1L)
    SnapshotTable.commitDeletes(
      orders.filter(col("o_orderkey") % MorDeleteMod === 3)
        .select("o_orderkey").repartition(1),
      table, 2L, carryFrom = 1L)
    SnapshotTable.commit(
      SnapshotTable.readMor(spark, table, 2L, "o_orderkey")
        .repartition(MorMaterializeFiles),
      table, 3L)
    Seq(1L, 2L, 3L).map { g =>
      SnapshotTable.readMor(spark, table, g, "o_orderkey")
        .agg(count(lit(1)).as("visible_rows"),
          sum("o_orderkey").as("visible_key_sum"))
        .select(lit(g).as("gen"),
          lit(SnapshotTable.listFiles(spark, table, g).size.toLong)
            .as("n_data_files"),
          lit(SnapshotTable.listDeleteFiles(spark, table, g).size.toLong)
            .as("n_delete_files"),
          col("visible_rows"), col("visible_key_sum"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** File counts for [[lakehousePipeline]]'s two commits, mirrored in
    * the oracle.
    */
  val LakeInitFiles = 4
  val LakeAppendFiles = 2

  /** The training-data lakehouse loop COMPOSED end to end — the
    * capstone that chains the snapshot layer with incremental exact
    * dedup and validates the append through the CDC lens:
    *
    *  1. the train split of the corpus (the [[graft.queries.SampleOps]]
    *     bucketing every split query shares) commits as generation 1
    *     of a content-hash table `(doc_id, h)`;
    *  2. the incoming batch (every non-train document) dedups against
    *     history by sha-256 content hash — the `dedup_incremental`
    *     contract verbatim (anti-join against the DISTINCT history
    *     hashes; within-batch duplicates are retained, documented
    *     there);
    *  3. survivors commit as generation 2, an append carrying
    *     history's files verbatim;
    *  4. the CDC hop 1→2 reads ONLY the manifest-diff's added files —
    *     its row count, id sum, and distinct-hash count must equal the
    *     accepted batch exactly (an append that rewrote or lost rows
    *     breaks the phase).
    *
    * One report row per phase (history / batch / dropped / accepted /
    * cdc_added / final), each carrying rows, distinct hashes, and the
    * doc_id sum, ALL re-derived relationally in the oracle from the
    * shared split predicate and hash — so the whole composition
    * (bucketing ∘ dedup ∘ commit ∘ manifest diff ∘ snapshot read) is
    * value-gated in one query. Every stage is the member query's own
    * plan shape: wordcount-class hash counts, no all-pairs, manifest
    * work bounded by file counts — consuming a batch costs the batch
    * at any corpus size.
    */
  def lakehousePipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.SampleOps
    val table = freshTable(spark, "lakehouse")
    val d = SampleOps.withSplit(Tables.documents(spark, dir))
      .select(col("doc_id"), col("split"), sha2(col("text"), 256).as("h"))
    val history = d.filter(col("split") === "train").select("doc_id", "h")
    val batch = d.filter(col("split") =!= "train").select("doc_id", "h")
    val accepted = batch.join(
      history.select("h").distinct(), Seq("h"), "left_anti")
    SnapshotTable.commit(history.repartition(LakeInitFiles), table, 1L)
    SnapshotTable.commit(accepted.select("doc_id", "h")
      .repartition(LakeAppendFiles), table, 2L, carryFrom = Some(1L))
    val (added, removed) = SnapshotTable.changedFiles(spark, table, 1L, 2L)
    require(removed.isEmpty, "an append hop must not rewrite history")
    def phase(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          count_distinct(col("h")).as("n_hashes"),
          coalesce(sum("doc_id"), lit(0L)).as("id_sum"))
        .select(lit(name).as("phase"), col("n_rows"), col("n_hashes"),
          col("id_sum"))
    Seq(
      phase("history", history),
      phase("batch", batch),
      phase("dropped", batch.join(history.select("h").distinct(), Seq("h"),
        "left_semi")),
      phase("accepted", accepted),
      phase("cdc_added", spark.read.parquet(added: _*)),
      phase("final", SnapshotTable.readAs(spark, table, 2L)))
      .reduce(_ unionByName _).orderBy("phase")
  }

  /** Range-slice count for [[snapshotSkip]]'s layout, mirrored in the
    * oracle.
    */
  val SkipSlices = 8

  /** Zone-map data skipping on the snapshot layer — the second pruning
    * axis next to [[snapshotMerge]]'s partition buckets: gen 1 lands
    * one file per key-range slice, and the manifest records each
    * file's (min_key, max_key) read from the parquet FOOTERS (the
    * statistics every columnar writer already produced — no data pages
    * touched). A range query then prunes FILES through the manifest
    * alone ([[SnapshotTable.readWhere]]): a file whose zone map misses
    * the range is never opened. The report pins both the pruning and
    * the content: total files, files the manifest admitted, and the
    * surviving rows' exact stats. The oracle recomputes the zone maps
    * as per-slice min/max in SQL — identical to the footer values by
    * construction — so the admitted-file COUNT is value-gated, not
    * just the row content; the spec additionally pins `inputFiles` ⊆
    * admitted paths at the plan level.
    */
  def snapshotSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "snapshot_skip")
    val src = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + SkipSlices) / SkipSlices // ceil((max+1)/slices)
    // One write lands every slice file (the snapshotMerge move): the
    // slice index is a derived column, repartition puts each slice in
    // one task, partitionBy encodes it in the path.
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    // Empty slices (possible for skewed key domains at other sf dirs)
    // drop out of the stats — the manifest lists only files that can
    // ever match, which keeps n_files_total equal to the oracle's
    // count of NON-EMPTY slices.
    val stats = SnapshotTable.footerKeyStats(spark, paths, "o_orderkey")
    SnapshotTable.publishWithStats(spark, table, 1L, stats)
    val (lo, hi) = (maxKey / 4, maxKey / 2)
    val pruned = SnapshotTable.readWhere(spark, table, 1L, "o_orderkey", lo, hi)
    pruned.agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
      .select(lit(stats.size.toLong).as("n_files_total"),
        lit(pruned.inputFiles.length.toLong).as("n_files_read"),
        col("n_rows"), col("key_sum"))
  }

  /** [[snapshotBloomSkip]] geometry — the canonical file-level bloom
    * constants now live on [[SnapshotTable]] (the connector's batch
    * planner probes the same sidecars); aliased here because the
    * oracles interpolate them. The salt is distinct from dedup_bloom's
    * so the two filters are independent families.
    */
  val FileBloomBits = SnapshotTable.BloomBits
  val FileBloomProbes = SnapshotTable.BloomProbes
  val FileBloomSalt = SnapshotTable.BloomSalt

  /** FILE-LEVEL BLOOM skipping — the third pruning axis, for a column
    * zone maps CANNOT prune: the slices are laid out by o_orderkey
    * range, so every file spans nearly the full PRICE domain and a
    * price zone map admits everything; a per-file bloom over the
    * (near-unique) price cents admits only the files whose filter
    * matches the point-lookup key (Parquet's column bloom filters /
    * Delta bloom indexes, as a manifest-adjacent sidecar). The report
    * pins the whole story in one row: total files, files a ZONE MAP on
    * the same column would admit (the contrast — near-total), files
    * the BLOOM admits, and the exact point-lookup content read from
    * the admitted files alone (no false negatives by construction, and
    * false POSITIVES only cost an open — the equality filter keeps
    * content exact). Because the bloom rides the portable hash family,
    * the oracle recomputes the per-file bit SETS relationally and
    * value-gates the admitted-file COUNT itself, not just the
    * content — a pruning index whose selectivity is under the exact
    * value gate. Scale shape: sidecar build is one scan + a
    * (file, word)-keyed aggregation (bit_or partial-combines); the
    * probe consults a files × words/probe frame (KB-scale at any
    * table size) and opens only admitted files.
    */
  def snapshotBloomSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "snapshot_bloomskip")
    // Price in exact integer CENTS (the dsumCents decimal route): the
    // near-unique value a point lookup would really target, and the
    // identity both engines hash from the same integer→string cast.
    val src = Tables.orders(spark, dir).select(col("o_orderkey"),
      (col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 100)
        .cast("long").as("cents"))
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + SkipSlices) / SkipSlices
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishAppend(spark, table, 1L, paths.sorted, carryFrom = None)
    // Sidecar build + probe through the shared SnapshotTable bloom
    // API — the exact machinery the DSv2 connector's batch planning
    // consults, so this gate's green row covers the planner's index
    // too. The probe is DRIVER-SIDE (Group-API sidecar read, JVM
    // hashes): planning-time metadata never pays a Spark job round.
    SnapshotTable.writeBloomIndex(spark, table, "cents", paths)
    // Deterministic point-lookup key, recomputable by the oracle.
    val probe = src.filter(col("cents") % 10 === 3)
      .agg(max("cents")).as[Long].head()
    val admitted = SnapshotTable
      .bloomAdmittedFiles(spark, table, "cents", Seq(probe), paths).sorted
    // ≤ SkipSlices paths — bounded by construction, like every
    // plan-assert read in the file.
    val content =
      if (admitted.isEmpty)
        src.filter(lit(false)).select(col("o_orderkey"))
      else spark.read.parquet(admitted: _*)
        .filter(col("cents") === probe).select(col("o_orderkey"))
    // The zone-map CONTRAST: per-file cents min/max (exactly the
    // parquet footer statistics) admit nearly every file.
    val centsStats = SnapshotTable.footerKeyStats(spark, paths, "cents")
    val nZone = centsStats.count { case (_, lo, hi) => lo <= probe && probe <= hi }
    content.agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
      .select(lit(paths.size.toLong).as("n_files_total"),
        lit(nZone.toLong).as("n_files_zonemap"),
        lit(admitted.size.toLong).as("n_files_bloom"),
        col("n_rows"), col("key_sum"))
  }

  /** [[snapshotBloomSkip]]'s pruning THROUGH the DataSource V2
    * connector — the path an external consumer of the table format
    * actually hits: the same slice layout, manifest and `cents` bloom
    * sidecar, but the point lookup arrives as a pushed `EqualTo`
    * through `spark.read.format(connector).filter(...)`, and the
    * admitted-file count is read back from the EXECUTED plan's
    * `BatchScanExec` partitions — the number of files the connector's
    * batch planning really planned, not a re-derivation. The oracle
    * recomputes the bloom admission relationally (the
    * `src_snapshot_bloomskip` technique), so a green row proves the
    * planner consulted the sidecar (a zone-map-only planner would
    * plan ~every file and fail the `n_files_planned` compare) AND
    * that the planned subset still serves the exact content. Scale
    * shape: planning cost is the O(files × words) sidecar read on the
    * driver — the Iceberg/Delta coordinator-side index-probe
    * posture — and the scan opens only admitted files.
    */
  def connectorBloomSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_bloomskip")
    val src = Tables.orders(spark, dir).select(col("o_orderkey"),
      (col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 100)
        .cast("long").as("cents"))
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + SkipSlices) / SkipSlices
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishAppend(spark, table, 1L, paths.sorted, carryFrom = None)
    SnapshotTable.writeBloomIndex(spark, table, "cents", paths)
    val probe = src.filter(col("cents") % 10 === 3)
      .agg(max("cents")).as[Long].head()
    val lookup = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .filter(col("cents") === probe)
      .select(col("o_orderkey"))
    val planned = lookup.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.sum
    val keys = lookup.as[Long].collect()
    Seq((paths.size.toLong, planned.toLong, keys.length.toLong, keys.sum))
      .toDF("n_files_total", "n_files_planned", "n_rows", "key_sum")
  }

  /** STRING-KEY file pruning through the connector — the single most
    * common point-lookup shape in an LLM data pipeline, where keys are
    * doc ids / URLs, not integers: the documents table lays out in
    * [[SkipSlices]] files keyed by a STRING id (`doc-<n>`), the bloom
    * sidecar indexes the string column (the build side always hashed
    * `k.cast("string")`, so the on-disk index needs nothing new), and
    * the probe arrives as a pushed `sid = '...'` whose literal IS the
    * rendered key ([[graft.streaming.PushedPredicates.of]]).
    * Without this translation the same statement scans EVERY file of a
    * 100 TB table — zone maps are integer-domain and can never help a
    * string key. The planned-file count comes from the connector's own
    * planning telemetry and is value-gated against the oracle's
    * relational recompute of the string-hash admission (same portable
    * md5-prefix family, VARCHAR identity cast), next to the probe's
    * exact content.
    */
  def connectorStrSkip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_strskip")
    val src = Tables.documents(spark, dir).select(col("doc_id"),
      concat(lit("doc-"), col("doc_id")).as("sid"), col("n_chars"))
    val maxKey = src.agg(max("doc_id")).as[Long].head()
    val w = (maxKey + SkipSlices) / SkipSlices
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", expr(s"doc_id div $w").cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishAppend(spark, table, 1L, paths.sorted, carryFrom = None)
    SnapshotTable.writeBloomIndex(spark, table, "sid", paths)
    // Deterministic string probe key, recomputable by the oracle.
    val probeId = src.filter(col("doc_id") % 7 === 3)
      .agg(max("doc_id")).as[Long].head()
    val probe = s"doc-$probeId"
    val lookup = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .filter(col("sid") === probe)
      .agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"),
        sum("n_chars").as("chars_sum"))
    val row = lookup.head()
    val planned = graft.streaming.SnapshotSource.lastPlan(table)
      .map(_._1).getOrElse(-1)
    Seq((paths.size.toLong, planned.toLong, row.getLong(0), row.getLong(1),
      row.getLong(2)))
      .toDF("n_files_total", "n_files_planned", "n_rows", "id_sum", "chars_sum")
  }

  /** Dynamic file pruning through the connector — the RUNTIME
    * counterpart of [[connectorBloomSkip]]'s compile-time pushdown:
    * the fact side is a snapshot table whose pruning keys are only
    * known after the DIM side's selective filter executes, so no
    * static predicate can skip anything. The scan advertises its
    * zone-map/bloom columns via `SupportsRuntimeV2Filtering`, Spark's
    * dynamic-partition-pruning rule injects the dim-derived IN filter
    * into the `BatchScanExec` (reusing the join's broadcast — the
    * classic star-schema DPP, here at FILE granularity on a table
    * format), and batch planning re-prunes: the drill REQUIRES the
    * runtime filter's presence on the executed scan and gates the
    * planned-file count — every dim key lives in slice 0 by
    * construction, so exactly ONE of the [[SkipSlices]] files may
    * plan — plus the joined content against the relational recompute.
    * Scale shape: this is how a 100 TB fact scan joins a filtered
    * dimension without reading the fact table — the dim's keys prune
    * fact files at runtime through the same manifest machinery every
    * static probe uses.
    */
  def connectorDpp(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Conf-isolated clone (the joinSkewAqe pattern): pin the DPP knobs
    // the drill's claim depends on, leave the shared session alone.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    s.conf.set("spark.sql.exchange.reuse", "true")
    val table = freshTable(s, "connector_dpp")
    val src = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + SkipSlices) / SkipSlices
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("sl", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("sl"))
      .write.partitionBy("sl").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(s, gen1Dir)
    SnapshotTable.publishStats(s, table, 1L,
      SnapshotTable.footerStats(s, paths, Seq("o_orderkey")))

    // Parquet-backed dim (a folded local relation would not count as a
    // selective build side): the 'x' keys all land in slice 0.
    val dimDir = freshTable(s, "connector_dpp_dim")
    src.filter(col("o_orderkey") % 31 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") < w, "x").otherwise("y").as("tag"))
      .write.mode("overwrite").parquet(dimDir)

    val joined = s.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .join(s.read.parquet(dimDir).filter(col("tag") === "x"), "o_orderkey")
      .agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"),
        expr("CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)")
          .as("price_cents"))
    val row = joined.head()

    // Read the EXECUTED plan: the snapshot scan must carry an injected
    // runtime filter, and its re-planned partitions are the gate.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // Walk ONLY the materialized final plan: an AQE node's `children`
    // lead to pre-execution copies whose runtime filters never ran
    // (touching their lazy input throws "no subquery result").
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val scans = flatten(joined.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("SnapshotSource") => b
    }
    require(scans.nonEmpty, "the snapshot scan must appear in the executed plan")
    require(scans.exists(_.runtimeFilters.nonEmpty),
      "Spark must inject a dim-derived runtime filter into the snapshot " +
        "scan; none present - dynamic file pruning never engaged")
    // Planned files come from the connector's own planning telemetry:
    // AQE may re-create (and discard) Scan copies, so plan-node
    // introspection can land on an unfiltered cosmetic instance — the
    // LAST planning the connector performed is the ground truth, and
    // the drill additionally requires that it was runtime-filtered.
    // The gate reads the planning that CARRIED the runtime filter (AQE
    // may organically re-plan cosmetic unfiltered copies around it;
    // only the filtered planning built the executed RDD).
    val runtimePlans = graft.streaming.SnapshotSource.planHistory(table)
      .collect { case (n, true) => n }
    require(runtimePlans.nonEmpty,
      "no runtime-filtered planning recorded - dynamic file pruning " +
        "never reached the connector")
    val planned = runtimePlans.last

    Seq((paths.size.toLong, planned.toLong)).toDF("n_files_total", "n_files_planned")
      .select(col("n_files_total"), col("n_files_planned"),
        lit(row.getLong(0)).as("n_rows"), lit(row.getLong(1)).as("key_sum"),
        lit(row.getLong(2)).as("price_cents"))
  }

  /** INCREMENTAL bloom-index maintenance through the connector — the
    * daily-ingest completion of [[connectorBloomSkip]]: generation 1
    * builds the sidecar, generation 2 appends new files and EXTENDS
    * the sidecar by indexing ONLY the batch's files
    * ([[SnapshotTable.writeBloomIndex]] append mode — per-file sidecar
    * rows are disjoint, so the extension is a pure parquet append and
    * per-batch index cost tracks the batch, never the table). The
    * point lookup then rides the connector across BOTH generations:
    * the planned-file count (read off the executed DSv2 plan) must
    * equal the relational bloom admission over the union of old and
    * new files — an appended-but-unindexed file would conservatively
    * inflate it, a lost old sidecar row would break content. Scale
    * shape: ingest cost = batch scan + batch-sized sidecar append;
    * probe cost unchanged.
    */
  def connectorBloomSkipIncr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "connector_bloomskip_incr")
    val src = Tables.orders(spark, dir).select(col("o_orderkey"),
      (col("o_totalprice")
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)) * 100)
        .cast("long").as("cents"))
    // w from the FULL key domain so both generations share the slicing.
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    val w = (maxKey + SkipSlices) / SkipSlices
    def stage(gen: Int, pred: org.apache.spark.sql.Column): Seq[String] = {
      val d = s"$table/data/gen=$gen"
      src.filter(pred).withColumn("s", expr(s"o_orderkey div $w").cast("int"))
        .repartition(col("s"))
        .write.partitionBy("s").mode("overwrite").parquet(d)
      graft.sources.SnapshotTable.freshFiles(spark, d)
    }
    val g1 = stage(1, col("o_orderkey") % 3 =!= 0)
    SnapshotTable.publishAppend(spark, table, 1L, g1, carryFrom = None)
    SnapshotTable.writeBloomIndex(spark, table, "cents", g1)
    val g2 = stage(2, col("o_orderkey") % 3 === 0)
    SnapshotTable.publishAppend(spark, table, 2L, g2, carryFrom = Some(1L))
    SnapshotTable.writeBloomIndex(spark, table, "cents", g2, append = true)
    val probe = src.filter(col("cents") % 10 === 3)
      .agg(max("cents")).as[Long].head()
    val lookup = spark.read
      .format(classOf[graft.streaming.SnapshotSourceProvider].getName)
      .option("path", table).load()
      .filter(col("cents") === probe)
      .select(col("o_orderkey"))
    val planned = lookup.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.sum
    val keys = lookup.as[Long].collect()
    Seq(((g1.size + g2.size).toLong, planned.toLong,
        keys.length.toLong, keys.sum))
      .toDF("n_files_total", "n_files_planned", "n_rows", "key_sum")
  }

  /** [[snapshotSkip2]] geometry: both keys map onto a
    * [[ZGrid]]×[[ZGrid]] grid, the Morton interleave of the grid
    * coordinates is sliced by its top bits into [[ZSliceShift]]-shifted
    * buckets (a 4×4 grid of axis-aligned rectangles), and every
    * constant is mirrored in the oracle.
    */
  val ZGrid = 256
  val ZGridBits = 8
  val ZSliceShift = 12 // 16-bit z → 16 slices

  /** Two-dimensional zone-map skipping on the snapshot layer — the
    * manifest-layer twin of `layout_zorder`, completing what
    * [[snapshotSkip]] starts: gen 1 lands one file per Z-ORDER slice
    * (each slice an axis-aligned rectangle in (o_orderkey, o_custkey)
    * space, so BOTH columns' per-file bounds are tight at once), the
    * manifest records each file's footer min/max for BOTH columns
    * ([[SnapshotTable.publishStats]]'s long-form rows), and the SAME
    * manifest then prunes two different range probes — one per
    * dimension ([[SnapshotTable.readWhere]] selects the requested
    * column's zone map). The report pins, per probe: total files,
    * admitted files, and the surviving rows' exact stats. The oracle
    * recomputes the slice assignment from the same interleave
    * constants and each slice's min/max relationally — identical to
    * the footer statistics by construction — so both dimensions'
    * admitted-file counts are value-gated.
    */
  def snapshotSkip2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "snapshot_skip2")
    val src = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val Array((maxKey, maxCust)) =
      src.agg(max("o_orderkey"), max("o_custkey")).as[(Long, Long)].collect()
    val wx = (maxKey + ZGrid) / ZGrid
    val wy = (maxCust + ZGrid) / ZGrid
    val zx = expr(s"o_orderkey div $wx")
    val zy = expr(s"o_custkey div $wy")
    val z = (0 until ZGridBits).map { i =>
      (shiftright(zx, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(zy, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", shiftright(z, ZSliceShift).cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    val stats = SnapshotTable.footerStats(spark, paths,
      Seq("o_orderkey", "o_custkey"))
    SnapshotTable.publishStats(spark, table, 1L, stats)
    val nFiles = stats.map(_._1).distinct.size.toLong
    def probe(name: String, column: String, maxV: Long): DataFrame = {
      val (lo, hi) = (maxV / 4, maxV / 2)
      val pruned = SnapshotTable.readWhere(spark, table, 1L, column, lo, hi)
      pruned.agg(count(lit(1)).as("n_rows"), sum(column).as("key_sum"))
        .select(lit(name).as("probe"), lit(nFiles).as("n_files_total"),
          lit(pruned.inputFiles.length.toLong).as("n_files_read"),
          col("n_rows"), col("key_sum"))
    }
    probe("custkey", "o_custkey", maxCust)
      .unionByName(probe("orderkey", "o_orderkey", maxKey))
      .orderBy("probe")
  }

  /** [[snapshotOptimize]] geometry: the scattered generation lands one
    * file per key RESIDUE (mod [[OptScatterFiles]] — every file spans
    * the whole key range, the worst case for zone maps, which is
    * exactly what an ingest-order layout degrades into), and OPTIMIZE
    * rewrites into [[OptSlices]] key-RANGE slices.
    */
  val OptScatterFiles = 16
  val OptSlices = 8

  /** OPTIMIZE on the snapshot layer — the lakehouse bin-pack + cluster
    * maintenance command, composing [[SnapshotTable.compact]]'s
    * time-travel contract with [[snapshotSkip]]'s zone-map pruning to
    * pin the one fact neither shows alone: SAME DATA, SAME manifest
    * machinery, and a range probe's file skipping is unlocked purely by
    * the LAYOUT REWRITE. Generation 1 lands the ingest-order pathology
    * (one file per key residue — every file's [min, max] spans the
    * whole domain, so zone maps admit everything); OPTIMIZE rewrites
    * into sorted key-range slices and publishes generation 2 with
    * fresh footer stats, gen 1's manifest and files untouched (time
    * travel to the pre-OPTIMIZE layout keeps serving). The report
    * probes BOTH generations' manifests with the identical range and
    * pins, per generation: file count, admitted files, surviving rows
    * and key sum. The oracle recomputes both layouts' per-file bounds
    * relationally (per-residue min/max ≡ the scattered footers,
    * per-slice min/max ≡ the optimized footers — both by construction)
    * so the before/after admitted counts are exact value gates: gen 1
    * must admit ALL files, gen 2 only the range's slices.
    */
  def snapshotOptimize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "snapshot_optimize")
    val src = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val maxKey = src.agg(max("o_orderkey")).as[Long].head()
    // Gen 1: ingest-order pathology — one file per key residue.
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("s", pmod(col("o_orderkey"), lit(OptScatterFiles.toLong)).cast("int"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1Dir)
    val paths1 = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publishWithStats(spark, table, 1L,
      SnapshotTable.footerKeyStats(spark, paths1, "o_orderkey"))
    // OPTIMIZE: rewrite into sorted key-range slices (deterministic
    // width, the snapshotSkip slicing — not repartitionByRange, whose
    // sampled boundaries would make file contents run-dependent),
    // publish gen 2 with fresh footer stats. Gen 1 stays resolvable.
    val w = (maxKey + OptSlices) / OptSlices
    val gen2Dir = s"$table/data/gen=2"
    SnapshotTable.readAs(spark, table, 1L)
      .withColumn("s", expr(s"o_orderkey div $w").cast("int"))
      .repartition(col("s"))
      .sortWithinPartitions("o_orderkey")
      .write.partitionBy("s").mode("overwrite").parquet(gen2Dir)
    val paths2 = graft.sources.SnapshotTable.freshFiles(spark, gen2Dir)
    SnapshotTable.publishWithStats(spark, table, 2L,
      SnapshotTable.footerKeyStats(spark, paths2, "o_orderkey"),
      action = "optimize")
    val (lo, hi) = (maxKey / 4, maxKey / 2)
    Seq(1L, 2L).map { g =>
      val pruned = SnapshotTable.readWhere(spark, table, g, "o_orderkey", lo, hi)
      pruned.agg(count(lit(1)).as("n_rows"), sum("o_orderkey").as("key_sum"))
        .select(lit(g).as("gen"),
          lit(SnapshotTable.listFiles(spark, table, g).size.toLong).as("n_files"),
          lit(pruned.inputFiles.length.toLong).as("n_files_read"),
          col("n_rows"), col("key_sum"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** [[snapshotMerge]] geometry, mirrored in the oracle: key buckets
    * (one data file each), the batch's residue predicates, and the
    * insert key offset — ≡ 0 (mod [[MergeBuckets]]) so inserted keys
    * stay in their source row's bucket.
    */
  val MergeBuckets = 4
  val MergeMod = 16
  val MergeInsertOffset = 10000000L

  /** File-pruned copy-on-write MERGE over the [[SnapshotTable]] layout —
    * `events_cdc_merge`'s upsert semantics tied into the versioned
    * table, the way a lakehouse actually executes it:
    *
    *  - gen 1 lands one data file per key bucket (`o_orderkey mod
    *    [[MergeBuckets]]`), the Hive-style `b=<n>` path segment
    *    recording each file's bucket in the manifest — the per-file
    *    metadata every table format keeps.
    *  - the MERGE batch (status-flip updates on keys ≡ 1, derived
    *    inserts on keys ≡ 2 mod [[MergeMod]]) first computes its
    *    TOUCHED BUCKETS (a ≤ [[MergeBuckets]]-row collect), prunes the
    *    gen-1 manifest to the touched files, reads ONLY those
    *    (spec-asserted via `inputFiles`), applies the upsert, and
    *    rewrites just the touched buckets.
    *  - gen 2's manifest carries the untouched files VERBATIM next to
    *    the rewritten ones — so the merge cost scales with the touched
    *    fraction, not the table, and gen 1 still time-travels from the
    *    original files.
    *
    * The oracle recomputes both generations' content from the orders
    * table with the same predicates (a pure-SQL MERGE twin) and pins
    * the file counts from the bucket constants.
    */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val table = freshTable(spark, "snapshot_merge")
    val src = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    val bucket = (c: org.apache.spark.sql.Column) => pmod(c, lit(MergeBuckets.toLong))
    // ONE write lands every bucket file: repartition on the bucket key
    // puts each bucket in a single task, and partitionBy encodes the
    // bucket in the b=<n> path segment the manifest records — the same
    // layout the per-bucket loop produced, minus N−1 sequential jobs.
    val gen1Dir = s"$table/data/gen=1"
    src.withColumn("b", bucket(col("o_orderkey")))
      .repartition(col("b"))
      .write.partitionBy("b").mode("overwrite").parquet(gen1Dir)
    val gen1Paths = graft.sources.SnapshotTable.freshFiles(spark, gen1Dir)
    SnapshotTable.publish(spark, table, 1L, gen1Paths)
    val updates = src.filter(pmod(col("o_orderkey"), lit(MergeMod.toLong)) === 1)
      .select(col("o_orderkey").as("k"))
    val inserts = src.filter(pmod(col("o_orderkey"), lit(MergeMod.toLong)) === 2)
      .select((col("o_orderkey") + MergeInsertOffset).as("o_orderkey"),
        col("o_orderkey").as("o_custkey"), lit("I").as("o_orderstatus"))
    // Touched-bucket discovery from the batch itself — bounded by the
    // bucket count, never the batch size.
    val touched = updates.select(bucket(col("k")).as("b"))
      .union(inserts.select(bucket(col("o_orderkey")).as("b")))
      .distinct().as[Long].collect().toSet
    def bucketOf(p: String): Long =
      "b=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    val (rewrite, carry) = gen1Paths.partition(p => touched(bucketOf(p)))
    val merged = spark.read.parquet(rewrite: _*)
      .join(updates, col("o_orderkey") === col("k"), "left")
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("k").isNotNull, lit("U")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"))
      .unionByName(inserts)
    val outDir = s"$table/data/gen=2"
    merged.withColumn("b", bucket(col("o_orderkey")))
      .repartition(col("b"))
      .write.partitionBy("b").mode("overwrite").parquet(outDir)
    SnapshotTable.publish(spark, table, 2L,
      carry ++ graft.sources.SnapshotTable.freshFiles(spark, outDir),
      action = "merge")
    Seq(1L, 2L).map { g =>
      SnapshotTable.readAs(spark, table, g)
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").as("key_sum"),
          sum(when(col("o_orderstatus") === "U", 1L).otherwise(0L)).as("n_updated"),
          sum(when(col("o_orderstatus") === "I", 1L).otherwise(0L)).as("n_inserted"))
        .select(lit(g).as("gen"),
          lit(SnapshotTable.listFiles(spark, table, g).size.toLong).as("n_files"),
          col("n_rows"), col("key_sum"), col("n_updated"), col("n_inserted"))
    }.reduce(_ unionByName _).orderBy("gen")
  }

  /** Schema evolution across file generations: a long-lived table's
    * early files lack columns later files carry (and vice versa), and
    * the reader must reconcile — `mergeSchema` unions the parquet
    * footers and surfaces missing columns as NULLs, which the counts
    * prove (each generation's rows carry exactly its own columns).
    * At 100 TB this is the contract that lets a pipeline add a column
    * without rewriting history; production pins the merged schema in a
    * metastore instead of re-inferring per read.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val gen1 = scratch("orders_evolve_gen1")
    val gen2 = scratch("orders_evolve_gen2")
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(gen1)
    o.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(gen2)
    spark.read.option("mergeSchema", "true").parquet(gen1, gen2)
      .agg(count(lit(1)).as("rows"),
        count(col("o_totalprice")).as("with_price"),
        count(col("o_orderpriority")).as("with_priority"),
        graft.operators.Parity.dsum(col("o_totalprice")).as("sum_price"))
  }

  /** Bucket count shared by the write and the plan spec. */
  val BucketCount = 8

  /** Bucketed tables + co-located join: both sides land pre-hashed into
    * [[BucketCount]] buckets on the join key, so the join plans WITHOUT
    * a shuffle exchange on either side (asserted on the real physical
    * plan in SourceOpsSpec). This is the 100 TB pattern for a fact table
    * that many downstream jobs join on the same key: pay the shuffle
    * once at write time, never again at read time. The bucket spec lives
    * in the session catalog (in-memory here; a metastore in production)
    * and the data is plain parquet at an external per-JVM path.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    def save(df: DataFrame, table: String, key: String): Unit =
      df.write.mode("overwrite")
        .bucketBy(BucketCount, key).sortBy(key)
        .option("path", scratch(s"bucketed_$table"))
        .saveAsTable(table)
    save(Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority"),
      "orders_bkt", "o_orderkey")
    save(Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"),
      "lineitem_bkt", "l_orderkey")
    bucketedRead(spark)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        graft.operators.Parity.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** The exchange-free join shared by the query and the plan spec. */
  def bucketedRead(spark: SparkSession): DataFrame =
    spark.table("lineitem_bkt")
      .join(spark.table("orders_bkt"), col("l_orderkey") === col("o_orderkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_bucketed" -> (bucketedJoin _),
    "src_dirscan" -> (dirScanSearch _),
    "src_csv_roundtrip" -> (csvRoundtrip _),
    "src_xml_roundtrip" -> (xmlRoundtrip _),
    "src_json_roundtrip" -> (jsonRoundtrip _),
    "src_orc_roundtrip" -> (orcRoundtrip _),
    "src_text_roundtrip" -> (textRoundtrip _),
    "src_partitioned" -> (partitionedRoundtrip _),
    "src_compaction" -> (compactionRoundtrip _),
    "src_json_corrupt" -> (jsonCorrupt _),
    "src_variant_roundtrip" -> (variantRoundtrip _),
    "src_schema_evolution" -> (schemaEvolution _),
    "src_snapshot" -> (snapshotRoundtrip _),
    "src_snapshot_merge" -> (snapshotMerge _),
    "src_snapshot_expire" -> (snapshotExpire _),
    "src_snapshot_changes" -> (snapshotChanges _),
    "src_snapshot_history" -> (snapshotHistory _),
    "src_snapshot_segments" -> (snapshotSegments _),
    "src_connector_segments" -> (connectorSegments _),
    "src_connector_read" -> (connectorRead _),
    "src_connector_timetravel" -> (connectorTimeTravel _),
    "pipeline_lakehouse" -> (lakehousePipeline _),
    "src_snapshot_mor" -> (snapshotMor _),
    "src_snapshot_upsert" -> (snapshotUpsert _),
    "src_snapshot_cdc_apply" -> (snapshotCdcApply _),
    "stream_medallion" -> (streamMedallion _),
    "src_snapshot_evolve" -> (snapshotEvolve _),
    "src_snapshot_schema_evo" -> (snapshotSchemaEvolution _),
    "src_connector_write" -> (connectorWrite _),
    "src_connector_decimal" -> (connectorDecimal _),
    "src_connector_array" -> (connectorArray _),
    "src_connector_rowgroup" -> (connectorRowGroup _),
    "src_connector_dateskip" -> (connectorDateSkip _),
    "src_connector_struct" -> (connectorStruct _),
    "src_connector_map" -> (connectorMap _),
    "src_connector_count" -> (connectorCount _),
    "src_connector_minmax" -> (connectorMinMax _),
    "src_connector_limit" -> (connectorLimit _),
    "src_connector_topn" -> (connectorTopN _),
    "src_catalog_sql" -> (catalogSql _),
    "src_provenance" -> (provenance _),
    "src_catalog_delete" -> (catalogDelete _),
    "src_catalog_dml" -> (catalogDml _),
    "src_catalog_proc" -> (catalogProc _),
    "src_catalog_overwrite" -> (catalogOverwrite _),
    "src_catalog_ctas" -> (catalogCtas _),
    "src_catalog_partitioned" -> (catalogPartitioned _),
    "src_catalog_evolve2" -> (catalogEvolve2 _),
    "src_connector_spj" -> (connectorSpj _),
    "src_catalog_partmeta" -> (catalogPartMeta _),
    "src_catalog_compactpart" -> (catalogCompactPartition _),
    "src_catalog_analyze" -> (catalogAnalyze _),
    "src_catalog_alter" -> (catalogAlter _),
    "src_catalog_branch" -> (catalogBranch _),
    "src_catalog_drop" -> (catalogDrop _),
    "src_connector_dpp" -> (connectorDpp _),
    "src_catalog_meta" -> (catalogMeta _),
    "stream_startat" -> (streamStartAt _),
    "stream_bytecap" -> (streamByteCap _),
    "src_snapshot_skip" -> (snapshotSkip _),
    "src_snapshot_bloomskip" -> (snapshotBloomSkip _),
    "src_connector_bloomskip" -> (connectorBloomSkip _),
    "src_connector_strskip" -> (connectorStrSkip _),
    "src_snapshot_bloomskip_incr" -> (connectorBloomSkipIncr _),
    "src_snapshot_skip2" -> (snapshotSkip2 _),
    "src_snapshot_optimize" -> (snapshotOptimize _),
    "src_snapshot_rollback" -> (snapshotRollback _),
    "src_snapshot_wap" -> (snapshotWap _),
    "src_snapshot_clone" -> (snapshotClone _),
    "src_snapshot_vacuum" -> (snapshotVacuum _),
  )

  /** src_dirscan's oracle globs the same REAL directory the Spark query
    * scans, so the SQL is a function of the sf dir Verify actually
    * receives (a hardcoded path would pass at exactly one scale factor).
    */
  private def dirScanOracle(dir: String): String =
    s"""SELECT name, count(*) AS cnt FROM (
       |  SELECT regexp_extract(file, '[^/]+$$', 0) AS name
       |  FROM glob('$dir/*'))
       |WHERE name NOT IN ('.', '..') AND name LIKE '%item%'
       |GROUP BY name ORDER BY name""".stripMargin

  /** Oracle twins with the dir-dependent SQL generated for `dir` (used
    * by Verify at runtime; the parameterless [[oracle]] keeps the
    * contract default of the driver's sf0.01 gate).
    */
  def oracleFor(dir: String): Map[String, String] =
    oracle + ("src_dirscan" -> dirScanOracle(dir))

  /** The [[snapshotCdcApply]] / [[streamMedallion]] shared twin: the
    * feed reconstructed relationally, each generation's view = latest
    * change per key (max_by over lsn) among batches <= gen; tombstone
    * file counts are one per upsert commit by construction. BOTH
    * queries bind this text verbatim — streaming execution ≡ batch
    * execution ≡ DuckDB.
    */
  private val CdcApplyOracle: String =
    s"""WITH o AS MATERIALIZED (
       |  SELECT o_orderkey AS k, o_custkey FROM orders),
       |changes AS MATERIALIZED (
       |  SELECT k, CAST(0 AS BIGINT) AS lsn,
       |         CAST(o_custkey AS BIGINT) AS v, 1 AS b FROM o
       |  UNION ALL SELECT k, 1, o_custkey + $CdcD1, 1
       |    FROM o WHERE k % $CdcDupMod = 1
       |  UNION ALL SELECT k, 2, o_custkey + $CdcD2, 2
       |    FROM o WHERE k % $CdcUpdMod = 1
       |  UNION ALL SELECT k, 3, o_custkey + $CdcD3, 2
       |    FROM o WHERE k % $CdcUpd2Mod = 1
       |  UNION ALL SELECT k + $CdcInsOffset, 4, o_custkey + $CdcD4, 3
       |    FROM o WHERE k % $CdcInsMod = 2),
       |gens AS (SELECT 1 AS gen UNION ALL SELECT 2 UNION ALL SELECT 3),
       |latest AS (
       |  SELECT g.gen, c.k, max_by(c.v, c.lsn) AS v
       |  FROM gens g JOIN changes c ON c.b <= g.gen
       |  GROUP BY g.gen, c.k)
       |SELECT CAST(gen AS BIGINT) AS gen,
       |  CAST(gen - 1 AS BIGINT) AS n_delete_files,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(k) AS BIGINT) AS key_sum,
       |  CAST(sum(v) AS BIGINT) AS val_sum
       |FROM latest GROUP BY gen ORDER BY gen""".stripMargin

  val oracle: Map[String, String] = Map(
    "src_dirscan" -> dirScanOracle("/root/testdata/sf0.01"),
    // Each generation's CONTENT recomputed from the orders table with
    // the same split predicate; file counts are the generated
    // constants (append = init's files carried + the batch's). A green
    // row pins manifest-resolved reads == direct derivation for all
    // three snapshots — including time travel through the
    // pre-compaction manifest after the gen-3 rewrite.
    // Zone-map twin: per-slice min/max recomputed in SQL are identical
    // to the parquet footer statistics by construction, so the
    // admitted-file count (overlap of each slice's zone map with the
    // query range) is an exact value compare, as are the surviving
    // rows' stats.
    "src_snapshot_skip" ->
      s"""WITH mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM orders),
         |w AS (SELECT (mk + $SkipSlices) // $SkipSlices AS w, mk FROM mx),
         |sl AS (
         |  SELECT o_orderkey // w.w AS s,
         |         min(o_orderkey) AS mn, max(o_orderkey) AS mxk
         |  FROM orders, w GROUP BY o_orderkey // w.w),
         |b AS (SELECT mk // 4 AS lo, mk // 2 AS hi FROM mx)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl) AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl, b
         |   WHERE mn <= hi AND mxk >= lo) AS n_files_read,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders, b
         |   WHERE o_orderkey BETWEEN lo AND hi) AS n_rows,
         |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders, b
         |   WHERE o_orderkey BETWEEN lo AND hi) AS key_sum""".stripMargin,
    // File-bloom twin: the per-slice bloom bit SETS are recomputed
    // relationally from the same salted portable hashes (packing into
    // words is injective on positions, so subset-of-positions ≡
    // all-bits-set), the zone-map contrast is per-slice custkey
    // min/max (the footer statistics by construction), and the probe
    // key is the same deterministic scalar. Both admitted-file counts
    // are exact value compares alongside the point-lookup content.
    "src_snapshot_bloomskip" -> {
      def hashP(i: Int, key: String): String =
        graft.queries.DedupOps.duckPortable64(
          s"concat('$FileBloomSalt$i:', CAST($key AS VARCHAR))") +
          s" % $FileBloomBits"
      val pos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT s, ${hashP(i, "cents")} AS p FROM sl")
        .mkString("\n  UNION\n  ")
      val ppos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT ${hashP(i, "pk")} AS p FROM probe")
        .mkString("\n  UNION\n  ")
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |  FROM orders),
         |mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM base),
         |sl AS (SELECT o_orderkey, cents,
         |         o_orderkey // ((mk + $SkipSlices) // $SkipSlices) AS s
         |       FROM base, mx),
         |probe AS (SELECT CAST(max(cents) AS BIGINT) AS pk FROM base
         |          WHERE cents % 10 = 3),
         |pos AS (
         |  $pos
         |),
         |ppos AS (
         |  $ppos
         |),
         |need AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppos),
         |hits AS (SELECT pos.s, CAST(count(*) AS BIGINT) AS h
         |         FROM pos JOIN ppos USING (p) GROUP BY pos.s),
         |adm AS (SELECT s FROM hits, need WHERE h = n),
         |zone AS (SELECT CAST(count(*) AS BIGINT) AS nz FROM (
         |    SELECT s, min(cents) AS lo, max(cents) AS hi
         |    FROM sl GROUP BY s) z, probe
         |  WHERE z.lo <= pk AND pk <= z.hi),
         |content AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM sl, probe
         |  WHERE cents = pk AND s IN (SELECT s FROM adm))
         |SELECT
         |  (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM sl) AS n_files_total,
         |  (SELECT nz FROM zone) AS n_files_zonemap,
         |  (SELECT CAST(count(*) AS BIGINT) FROM adm) AS n_files_bloom,
         |  n_rows, key_sum
         |FROM content""".stripMargin
    },
    // Connector twin: the SAME relational bloom-admission recompute,
    // but the Spark side's n_files_planned comes from the executed
    // DSv2 plan's partition count — the manifest is plain (no zone
    // stats), so a planner that ignored the sidecar would plan every
    // file and hash-fail here.
    "src_connector_bloomskip" -> {
      def hashP(i: Int, key: String): String =
        graft.queries.DedupOps.duckPortable64(
          s"concat('$FileBloomSalt$i:', CAST($key AS VARCHAR))") +
          s" % $FileBloomBits"
      val pos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT s, ${hashP(i, "cents")} AS p FROM sl")
        .mkString("\n  UNION\n  ")
      val ppos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT ${hashP(i, "pk")} AS p FROM probe")
        .mkString("\n  UNION\n  ")
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |  FROM orders),
         |mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM base),
         |sl AS (SELECT o_orderkey, cents,
         |         o_orderkey // ((mk + $SkipSlices) // $SkipSlices) AS s
         |       FROM base, mx),
         |probe AS (SELECT CAST(max(cents) AS BIGINT) AS pk FROM base
         |          WHERE cents % 10 = 3),
         |pos AS (
         |  $pos
         |),
         |ppos AS (
         |  $ppos
         |),
         |need AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppos),
         |hits AS (SELECT pos.s, CAST(count(*) AS BIGINT) AS h
         |         FROM pos JOIN ppos USING (p) GROUP BY pos.s),
         |adm AS (SELECT s FROM hits, need WHERE h = n),
         |content AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM sl, probe
         |  WHERE cents = pk AND s IN (SELECT s FROM adm))
         |SELECT
         |  (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM sl) AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM adm) AS n_files_planned,
         |  n_rows, key_sum
         |FROM content""".stripMargin
    },
    // String-key twin: identical bloom recompute, but the hashed key is
    // the VARCHAR doc id itself (the CAST is the identity) — a planner
    // that failed to translate the pushed string literal into probe
    // positions would plan every file and break the planned-file
    // compare, not just run slower.
    "src_connector_strskip" -> {
      def hashP(i: Int, key: String): String =
        graft.queries.DedupOps.duckPortable64(
          s"concat('$FileBloomSalt$i:', CAST($key AS VARCHAR))") +
          s" % $FileBloomBits"
      val pos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT s, ${hashP(i, "sid")} AS p FROM sl")
        .mkString("\n  UNION\n  ")
      val ppos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT ${hashP(i, "pk")} AS p FROM probe")
        .mkString("\n  UNION\n  ")
      s"""WITH base AS (
         |  SELECT doc_id, concat('doc-', CAST(doc_id AS VARCHAR)) AS sid,
         |    n_chars
         |  FROM documents),
         |mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mk FROM base),
         |sl AS (SELECT doc_id, sid, n_chars,
         |         doc_id // ((mk + $SkipSlices) // $SkipSlices) AS s
         |       FROM base, mx),
         |probe AS (
         |  SELECT concat('doc-', CAST(max(doc_id) AS VARCHAR)) AS pk
         |  FROM base WHERE doc_id % 7 = 3),
         |pos AS (
         |  $pos
         |),
         |ppos AS (
         |  $ppos
         |),
         |need AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppos),
         |hits AS (SELECT pos.s, CAST(count(*) AS BIGINT) AS h
         |         FROM pos JOIN ppos USING (p) GROUP BY pos.s),
         |adm AS (SELECT s FROM hits, need WHERE h = n),
         |content AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |         CAST(sum(n_chars) AS BIGINT) AS chars_sum
         |  FROM sl, probe
         |  WHERE sid = pk AND s IN (SELECT s FROM adm))
         |SELECT
         |  (SELECT CAST(count(DISTINCT s) AS BIGINT) FROM sl) AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM adm) AS n_files_planned,
         |  n_rows, id_sum, chars_sum
         |FROM content""".stripMargin
    },
    // Incremental twin: file identity is the (generation split, slice)
    // pair — gen 2's files hold the % 3 == 0 rows — and the SAME
    // relational bloom recompute runs over the union, so the planner's
    // planned-file count proves the APPENDED sidecar rows are consulted
    // (an unindexed new file would admit conservatively and
    // hash-fail the count).
    "src_snapshot_bloomskip_incr" -> {
      def hashP(i: Int, key: String): String =
        graft.queries.DedupOps.duckPortable64(
          s"concat('$FileBloomSalt$i:', CAST($key AS VARCHAR))") +
          s" % $FileBloomBits"
      val pos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT g, s, ${hashP(i, "cents")} AS p FROM sl")
        .mkString("\n  UNION\n  ")
      val ppos = (0 until FileBloomProbes)
        .map(i => s"SELECT DISTINCT ${hashP(i, "pk")} AS p FROM probe")
        .mkString("\n  UNION\n  ")
      s"""WITH base AS (
         |  SELECT o_orderkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS cents
         |  FROM orders),
         |mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM base),
         |sl AS (SELECT o_orderkey, cents,
         |         CASE WHEN o_orderkey % 3 = 0 THEN 2 ELSE 1 END AS g,
         |         o_orderkey // ((mk + $SkipSlices) // $SkipSlices) AS s
         |       FROM base, mx),
         |probe AS (SELECT CAST(max(cents) AS BIGINT) AS pk FROM base
         |          WHERE cents % 10 = 3),
         |pos AS (
         |  $pos
         |),
         |ppos AS (
         |  $ppos
         |),
         |need AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ppos),
         |hits AS (SELECT pos.g, pos.s, CAST(count(*) AS BIGINT) AS h
         |         FROM pos JOIN ppos USING (p) GROUP BY pos.g, pos.s),
         |adm AS (SELECT g, s FROM hits, need WHERE h = n),
         |content AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM sl JOIN adm USING (g, s), probe
         |  WHERE cents = pk)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM (SELECT DISTINCT g, s FROM sl) t) AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM adm) AS n_files_planned,
         |  n_rows, key_sum
         |FROM content""".stripMargin
    },
    // Two-dimensional zone-map twin: the Morton slice assignment is
    // regenerated from the same grid/interleave constants, per-slice
    // min/max of BOTH columns are the footer statistics by
    // construction, and each probe's admitted-file count checks that
    // dimension's zone map against the range.
    "src_snapshot_skip2" -> {
      val zExpr = (0 until ZGridBits).map { i =>
        s"(((zx >> $i) & 1) * ${1L << (2 * i)}) + (((zy >> $i) & 1) * ${1L << (2 * i + 1)})"
      }.mkString(" + ")
      s"""WITH mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk,
         |                   CAST(max(o_custkey) AS BIGINT) AS mc FROM orders),
         |g AS (
         |  SELECT o_orderkey, o_custkey,
         |         o_orderkey // ((mk + $ZGrid) // $ZGrid) AS zx,
         |         o_custkey // ((mc + $ZGrid) // $ZGrid) AS zy
         |  FROM orders, mx),
         |sl AS (
         |  SELECT ($zExpr) >> $ZSliceShift AS s,
         |         min(o_orderkey) AS k1lo, max(o_orderkey) AS k1hi,
         |         min(o_custkey) AS k2lo, max(o_custkey) AS k2hi
         |  FROM g GROUP BY 1),
         |b AS (SELECT mk // 4 AS lo1, mk // 2 AS hi1,
         |             mc // 4 AS lo2, mc // 2 AS hi2 FROM mx),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM sl)
         |SELECT 'custkey' AS probe, n.total AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl, b
         |   WHERE k2lo <= hi2 AND k2hi >= lo2) AS n_files_read,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders, b
         |   WHERE o_custkey BETWEEN lo2 AND hi2) AS n_rows,
         |  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders, b
         |   WHERE o_custkey BETWEEN lo2 AND hi2) AS key_sum
         |FROM n
         |UNION ALL
         |SELECT 'orderkey' AS probe, n.total AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl, b
         |   WHERE k1lo <= hi1 AND k1hi >= lo1) AS n_files_read,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders, b
         |   WHERE o_orderkey BETWEEN lo1 AND hi1) AS n_rows,
         |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders, b
         |   WHERE o_orderkey BETWEEN lo1 AND hi1) AS key_sum
         |FROM n
         |ORDER BY probe""".stripMargin
    },
    // OPTIMIZE twin: gen 1's per-residue min/max and gen 2's per-slice
    // min/max are the two layouts' footer statistics by construction,
    // so the before/after admitted-file counts (all files vs the
    // range's slices) are exact value compares, as are the probes'
    // surviving rows (identical in both generations — OPTIMIZE moves
    // rows, never changes them).
    "src_snapshot_optimize" ->
      s"""WITH mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM orders),
         |b AS (SELECT mk // 4 AS lo, mk // 2 AS hi FROM mx),
         |scat AS (
         |  SELECT o_orderkey % $OptScatterFiles AS s,
         |         min(o_orderkey) AS mn, max(o_orderkey) AS mxk
         |  FROM orders GROUP BY 1),
         |opt AS (
         |  SELECT o_orderkey // ((mk + $OptSlices) // $OptSlices) AS s,
         |         min(o_orderkey) AS mn, max(o_orderkey) AS mxk
         |  FROM orders, mx GROUP BY 1),
         |hit AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM orders, b WHERE o_orderkey BETWEEN lo AND hi)
         |SELECT CAST(1 AS BIGINT) AS gen,
         |  (SELECT CAST(count(*) AS BIGINT) FROM scat) AS n_files,
         |  (SELECT CAST(count(*) AS BIGINT) FROM scat, b
         |   WHERE mn <= hi AND mxk >= lo) AS n_files_read,
         |  hit.n_rows, hit.key_sum FROM hit
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS gen,
         |  (SELECT CAST(count(*) AS BIGINT) FROM opt) AS n_files,
         |  (SELECT CAST(count(*) AS BIGINT) FROM opt, b
         |   WHERE mn <= hi AND mxk >= lo) AS n_files_read,
         |  hit.n_rows, hit.key_sum FROM hit
         |ORDER BY gen""".stripMargin,
    // Retention-sweep twin: the latest generation's content is the full
    // table in both phases; manifest and distinct-live-file counts from
    // the generated constants (the append generation SHARES the init
    // files, so live-before counts each path once).
    // Encode twin: gen 1 is the first append's predicate, gen 2 is
    // the whole table; DuckDB reads the ORIGINAL parquet.
    "src_connector_write" ->
      s"""WITH g1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |         CAST(sum(length(o_orderstatus)) AS BIGINT) AS status_chars,
         |         CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT) AS price_micro,
         |         CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS ts_min
         |  FROM orders WHERE o_orderkey % 3 = 0),
         |g2 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |         CAST(sum(length(o_orderstatus)) AS BIGINT) AS status_chars,
         |         CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT) AS price_micro,
         |         CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS ts_min
         |  FROM orders)
         |SELECT CAST(1 AS BIGINT) AS gen, * FROM g1
         |UNION ALL
         |SELECT 2, * FROM g2
         |ORDER BY gen""".stripMargin,
    // Decimal twin: both generations re-derived with the SAME exact
    // decimal construction — the scale-4 cast, then exact widening to
    // (38,6) — and integral scale-shifted sums; no double math after
    // the shared initial cast.
    "src_connector_decimal" ->
      s"""WITH src AS MATERIALIZED (
         |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,4)) AS price,
         |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) + (o_orderkey % 1000)
         |      AS DECIMAL(38,6)) AS wide
         |  FROM orders)
         |SELECT CAST(1 AS BIGINT) AS gen, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(sum(CAST(price * 10000 AS BIGINT)) AS BIGINT) AS price_e4,
         |  CAST(sum(CAST(wide * 1000000 AS BIGINT)) AS BIGINT) AS wide_e6
         |FROM src WHERE o_orderkey % 2 = 1
         |UNION ALL
         |SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT),
         |  CAST(sum(CAST(price * 10000 AS BIGINT)) AS BIGINT),
         |  CAST(sum(CAST(wide * 1000000 AS BIGINT)) AS BIGINT)
         |FROM src
         |ORDER BY gen""".stripMargin,
    // Struct twin: the per-language aggregate over the ORIGINAL flat
    // columns — the struct fold/unfold must be content-neutral.
    "src_connector_struct" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Count-pushdown twin: counts re-derived from the split
    // predicates; plan shape binds as the booleans.
    "src_connector_count" ->
      """SELECT 'a_pushed' AS phase,
        |  CAST(count(*) AS BIGINT) AS n_rows, TRUE AS ok FROM orders
        |UNION ALL
        |SELECT 'b_travel', CAST(count(*) AS BIGINT), TRUE
        |FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT 'c_filtered', CAST(count(*) AS BIGINT), TRUE
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY phase""".stripMargin,
    // Min/max-pushdown twin: the folded extrema, the date fold
    // translated back to epoch days, and the filtered refusal's honest
    // value; plan shapes bind as the booleans.
    "src_connector_minmax" ->
      """WITH src AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt FROM orders)
        |SELECT CAST(min(o_orderkey) AS BIGINT) AS key_min,
        |  CAST(max(o_orderkey) AS BIGINT) AS key_max,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(date_diff('day', DATE '1970-01-01', min(dt)) AS BIGINT) AS day_min,
        |  CAST(date_diff('day', DATE '1970-01-01', max(dt)) AS BIGINT) AS day_max,
        |  (SELECT CAST(min(o_orderkey) AS BIGINT) FROM src
        |   WHERE o_orderkey % 3 = 0) AS f_min,
        |  TRUE AS a_ok, TRUE AS b_ok, TRUE AS c_ok
        |FROM src""".stripMargin,
    // Limit-pushdown twin: per-slice counts recomputed relationally
    // (slice 0 is the lexicographically first file), planned-file
    // counts as exact values.
    "src_connector_limit" ->
      """WITH src AS (SELECT o_orderkey FROM orders),
        |mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM src),
        |sl AS (SELECT o_orderkey,
        |         o_orderkey // ((mk + 4) // 4) AS s FROM src, mx),
        |c0 AS (SELECT CAST(count(*) AS BIGINT) AS c FROM sl WHERE s = 0)
        |SELECT 'a_one' AS phase, CAST(5 AS BIGINT) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files
        |UNION ALL
        |SELECT 'b_two', (SELECT c + 1 FROM c0), CAST(2 AS BIGINT)
        |UNION ALL
        |SELECT 'c_all', (SELECT CAST(count(*) AS BIGINT) FROM sl),
        |  CAST(4 AS BIGINT)
        |ORDER BY phase""".stripMargin,
    // TopN-pushdown twin: exact top-k sums from the total order on the
    // unique key; planned-file counts as layout constants (one range
    // slice holds each extreme, the NULLS FIRST refusal plans all 4).
    "src_connector_topn" ->
      """WITH src AS (SELECT o_orderkey FROM orders),
        |t5 AS (SELECT o_orderkey FROM src ORDER BY o_orderkey DESC LIMIT 5),
        |l7 AS (SELECT o_orderkey FROM src ORDER BY o_orderkey ASC LIMIT 7),
        |l5 AS (SELECT o_orderkey FROM src ORDER BY o_orderkey ASC LIMIT 5)
        |SELECT 'a_desc' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(1 AS BIGINT) AS n_files FROM t5
        |UNION ALL
        |SELECT 'b_asc', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT), CAST(1 AS BIGINT) FROM l7
        |UNION ALL
        |SELECT 'c_first', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT), CAST(4 AS BIGINT) FROM l5
        |ORDER BY phase""".stripMargin,
    // Map twin: the two looked-up keys' sums over the original flat
    // columns — the map fold/unfold must be content-neutral.
    "src_connector_map" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(sum(doc_id * 2) AS BIGINT) AS id2_sum
        |FROM documents""".stripMargin,
    // Date-skip twin: slice assignment and per-slice day min/max
    // recomputed relationally (identical to the footer statistics by
    // construction), so the planned-file count is an exact value gate
    // next to the probe's content.
    "src_connector_dateskip" ->
      s"""WITH src AS MATERIALIZED (
         |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt,
         |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
         |  FROM orders),
         |d AS (SELECT min(day) AS mn, max(day) AS mx FROM src),
         |w AS (SELECT mn, mx, (mx - mn + $DateSlices) // $DateSlices AS w FROM d),
         |sl AS (SELECT (day - w.mn) // w.w AS s,
         |         min(day) AS smn, max(day) AS smx
         |       FROM src, w GROUP BY 1),
         |b AS (SELECT mn + (mx - mn) // 4 AS lo, mn + (mx - mn) // 2 AS hi FROM d)
         |SELECT
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl) AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl, b
         |   WHERE smn <= hi AND smx >= lo) AS n_files_planned,
         |  (SELECT CAST(count(*) AS BIGINT) FROM src, b
         |   WHERE day BETWEEN lo AND hi) AS n_rows,
         |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM src, b
         |   WHERE day BETWEEN lo AND hi) AS key_sum""".stripMargin,
    // Row-group twin: the probe's content over the same range bounds;
    // the strict-subset group admission binds as the boolean (group
    // boundaries are compression-dependent, not SQL-recomputable).
    "src_connector_rowgroup" ->
      """WITH mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk FROM orders),
        |b AS (SELECT mk // 4 AS lo, mk // 2 AS hi FROM mx)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders, b
        |   WHERE o_orderkey BETWEEN lo AND hi) AS n_rows,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders, b
        |   WHERE o_orderkey BETWEEN lo AND hi) AS key_sum,
        |  TRUE AS ok""".stripMargin,
    // Array twin: the quantized per-element checksum over the ORIGINAL
    // embeddings parquet — float→double cast then floor(x*1000) is
    // spelled identically on both engines (IEEE math, no ties).
    "src_connector_array" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
        |  CAST(sum(len(embedding)) AS BIGINT) AS n_elems,
        |  CAST(sum(list_sum(list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)))) AS BIGINT) AS q_sum,
        |  CAST(sum(label) AS BIGINT) AS label_sum
        |FROM embeddings""".stripMargin,
    // DML twin: each phase re-derived from the mutation predicates.
    // The UPDATE's range bound (max/4, the pruned slice) recomputes
    // relationally; the MERGE CTE mirrors the four arms in statement
    // order — %11-not-%7 deletes filter out, %7 matched-updates take
    // the CASE's first branch, NOT MATCHED BY SOURCE %17 rows the
    // second (rows reaching it are k%7<>0 and, by the delete filter,
    // k%11<>0 — exactly the unmatched-target class), shifted %13 keys
    // insert. Double arithmetic is spelled identically on both engines.
    "src_catalog_dml" ->
      """WITH upd AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)
        |         THEN o_totalprice + 1000
        |         ELSE o_totalprice END AS p
        |  FROM orders),
        |merged AS (
        |  SELECT k,
        |    CASE WHEN k % 7 = 0 THEN 123.5
        |         WHEN k % 17 = 3 THEN p + 0.5
        |         ELSE p END AS p
        |  FROM upd
        |  WHERE NOT (k % 11 = 0 AND k % 7 <> 0)
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, 7.25 FROM orders WHERE o_orderkey % 13 = 0)
        |SELECT 'a_before' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders
        |UNION ALL
        |SELECT 'b_update', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT),
        |  CAST(sum(CAST(floor(p * 100) AS BIGINT)) AS BIGINT)
        |FROM upd
        |UNION ALL
        |SELECT 'c_merge', CAST(count(*) AS BIGINT), CAST(sum(k) AS BIGINT),
        |  CAST(sum(CAST(floor(p * 100) AS BIGINT)) AS BIGINT)
        |FROM merged
        |ORDER BY phase""".stripMargin,
    // Procedure twin: every result relation re-derived from the drill's
    // constants (4 init files, compact to 2, rollback restores 4, expire
    // retires 1 manifest and 0 data files — the rollback still
    // references them); e_content is the full projection (the rollback
    // restored the pre-compaction content, which equals it). The
    // wall-clock history stamps are gated as the monotonicity boolean.
    "src_catalog_proc" ->
      """SELECT 'a_compact' AS phase, CAST(1 AS BIGINT) AS x,
        |  CAST(2 AS BIGINT) AS y, '' AS tag, TRUE AS ok
        |UNION ALL SELECT 'a_diff', 2, 4, 'changes', TRUE
        |UNION ALL SELECT 'b_rollback', 1, 3, '', TRUE
        |UNION ALL SELECT 'c_hist', 1, 4, 'append', TRUE
        |UNION ALL SELECT 'c_hist', 2, 2, 'compact', TRUE
        |UNION ALL SELECT 'c_hist', 3, 4, 'rollback', TRUE
        |UNION ALL SELECT 'd_expire', 1, 0, '', TRUE
        |UNION ALL SELECT 'e_content',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders), '', TRUE
        |ORDER BY phase, x""".stripMargin,
    // DPP twin: the planned-file count is the structural gate (all 'x'
    // dim keys sit below the slice width, so runtime pruning must plan
    // exactly one of the SkipSlices files); content re-derives the
    // join relationally from the dim predicate, slice width recomputed
    // from the same integer arithmetic.
    "src_connector_dpp" ->
      s"""WITH wv AS (SELECT (max(o_orderkey) + $SkipSlices) // $SkipSlices AS w
         |            FROM orders),
         |x AS (SELECT o_orderkey, o_totalprice FROM orders
         |      WHERE o_orderkey % 31 = 0
         |        AND o_orderkey < (SELECT w FROM wv))
         |SELECT CAST($SkipSlices AS BIGINT) AS n_files_total,
         |  CAST(1 AS BIGINT) AS n_files_planned,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM x""".stripMargin,
    // Starting-offset twin: each consumer's delivered content
    // re-derived from the residue predicates of the generations at or
    // after its start (gen1=%3==1, gen2=%3==2, gen3=%3==0).
    "stream_startat" ->
      """SELECT 'a_gen2' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders WHERE o_orderkey % 3 IN (2, 0)
        |UNION ALL
        |SELECT 'b_ts3', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT),
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY phase""".stripMargin,
    // Byte-cap twin: the first chunk IS the large file (the whole
    // orders projection); the rest is the six small-file literals plus
    // the two-hop keys. Batch structure binds as booleans.
    "stream_bytecap" ->
      s"""SELECT 'a_first' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum, TRUE AS ok
         |FROM orders
         |UNION ALL
         |SELECT 'b_rest',
         |  CAST(${(ByteCapSmallKeys ++ ByteCapHopKeys).size} AS BIGINT),
         |  CAST(${(ByteCapSmallKeys ++ ByteCapHopKeys).sum} AS BIGINT), TRUE
         |ORDER BY phase""".stripMargin,
    // Metadata-tables twin: file inventory from the drill's layout
    // constants (3-file commit compacted to 2, row counts summing to
    // the full projection); history from the recorded actions.
    // Wall-clock stamps and byte sizes bind as booleans.
    "src_catalog_meta" ->
      """SELECT 'a_files' AS phase, CAST(2 AS BIGINT) AS x,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders) AS y,
        |  'data' AS tag, TRUE AS ok
        |UNION ALL SELECT 'b_hist', 1, 3, 'append', TRUE
        |UNION ALL SELECT 'b_hist', 2, 2, 'compact', TRUE
        |ORDER BY phase, x""".stripMargin,
    // Overwrite twin: a_before is the full projection, b_after/c_vacuumed
    // the replaced content re-derived from the overwrite query's own
    // predicate and arithmetic (spelled identically on both engines);
    // the vacuum between b and c must change nothing the gate can see.
    "src_catalog_overwrite" -> {
      def ph(tag: String, priceExpr: String, where: String): String =
        s"""SELECT '$tag' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           |  CAST(sum(CAST(floor(($priceExpr) * 100) AS BIGINT)) AS BIGINT) AS price_cents
           |FROM orders$where""".stripMargin
      Seq(
        ph("a_before", "o_totalprice", ""),
        ph("b_after", "o_totalprice + 10", " WHERE o_orderkey % 2 = 0"),
        ph("c_vacuumed", "o_totalprice + 10", " WHERE o_orderkey % 2 = 0"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY phase")
    },
    // CTAS twin: the creation snapshot re-derived from the odd-key
    // predicate, the post-insert latest as the full projection. The
    // money column is DECIMAL(18,4) in BOTH engines, so price_e4 is
    // exact integral decimal math end to end.
    "src_catalog_ctas" ->
      """SELECT 'a_created' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)) * 10000) AS BIGINT) AS price_e4
        |FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT 'b_inserted', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)) * 10000) AS BIGINT)
        |FROM orders
        |ORDER BY phase""".stripMargin,
    // Rename/drop twin: renames are content-neutral (same sums under
    // the new name; the narrow travel phase under the old), the drop
    // zeroes the column's phase value; column counts are layout
    // constants (2, 2, then 1 after the drop).
    "src_catalog_evolve2" ->
      """SELECT 'a_renamed' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
        |  CAST(2 AS BIGINT) AS n_cols
        |FROM orders
        |UNION ALL
        |SELECT 'b_narrow', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT), CAST(sum(o_custkey) AS BIGINT),
        |  CAST(2 AS BIGINT)
        |FROM orders WHERE o_orderkey % 2 = 1
        |UNION ALL
        |SELECT 'c_dropped', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(1 AS BIGINT)
        |FROM orders
        |ORDER BY phase""".stripMargin,
    // Partitions-relation twin: per-value rows from the residue split;
    // file counts are layout constants (1 per value; the routed insert
    // lands a 2nd file in value 2 and doubles its rows).
    "src_catalog_partmeta" ->
      """SELECT CAST(bkt AS BIGINT) AS value,
        |  CAST(CASE WHEN bkt = 2 THEN 2 ELSE 1 END AS BIGINT) AS n_files,
        |  CAST(count(*) * CASE WHEN bkt = 2 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_rows
        |FROM (SELECT o_orderkey % 4 AS bkt FROM orders)
        |GROUP BY bkt ORDER BY value""".stripMargin,
    // Analyze twin: slice width recomputed from the key max, probe
    // content over [w, 2w-1] (exactly slice 1), planned-file counts
    // all-4 before / 1 after; min/max/count and the local-plan
    // boolean close the aggregate-pushdown loop.
    "src_catalog_analyze" ->
      """WITH src AS (SELECT o_orderkey FROM orders),
        |d AS (SELECT (CAST(max(o_orderkey) AS BIGINT) + 4) // 4 AS w FROM src)
        |SELECT CAST(4 AS BIGINT) AS n_files, CAST(4 AS BIGINT) AS pre_planned,
        |  CAST(2 AS BIGINT) AS new_gen, CAST(1 AS BIGINT) AS post_planned,
        |  (SELECT CAST(count(*) AS BIGINT) FROM src, d
        |   WHERE o_orderkey BETWEEN w AND 2 * w - 1) AS n,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM src, d
        |   WHERE o_orderkey BETWEEN w AND 2 * w - 1) AS ks,
        |  (SELECT CAST(min(o_orderkey) AS BIGINT) FROM src) AS key_min,
        |  (SELECT CAST(max(o_orderkey) AS BIGINT) FROM src) AS key_max,
        |  (SELECT CAST(count(*) AS BIGINT) FROM src) AS n_total,
        |  TRUE AS mm_ok""".stripMargin,
    // Compact-partition twin: bkt-2 content triples through the two
    // routed inserts (key offsets 1e9/2e9), file/generation numbers
    // are layout constants (4 CTAS files, gens 1..3, compact = 4),
    // and the compaction is content-neutral (travel == latest count).
    "src_catalog_compactpart" ->
      """WITH c2 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS ks
        |  FROM orders WHERE o_orderkey % 4 = 2)
        |SELECT CAST(3 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS new_gen,
        |  CAST(1 AS BIGINT) AS pm_files, n * 3 AS pm_rows,
        |  CAST(1 AS BIGINT) AS planned, n * 3 AS n_probe,
        |  ks * 3 + (CAST(1000000000 AS BIGINT) + 2000000000) * n AS key_sum,
        |  n * 3 AS n_travel
        |FROM c2""".stripMargin,
    // Storage-partitioned-join twin: the matched keys are exactly
    // k ≡ 3 (mod 6); the shuffle-free plan shape binds as the boolean.
    "src_connector_spj" ->
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(o_custkey * 2) AS BIGINT) AS cust2_sum,
        |  TRUE AS shuffle_free
        |FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0""".stripMargin,
    // Partitioned-CTAS twin: partition file counts are layout
    // constants (one file per bkt value per statement — DISTRIBUTE BY
    // pins each value to one task), the planned counts the zone-row
    // admission recompute (1 after CTAS, 2 after the insert lands a
    // second bkt=3 file), content from the split predicates with the
    // UPDATE's +777 applied to the original bkt=5 rows only.
    "src_catalog_partitioned" ->
      """WITH src AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey, o_orderkey % 8 AS bkt FROM orders),
        |ins AS (SELECT o_orderkey + 1000000000 AS o_orderkey, o_custkey,
        |          3 AS bkt FROM src WHERE bkt = 3),
        |allr AS (SELECT * FROM src UNION ALL SELECT * FROM ins)
        |SELECT
        |  (SELECT CAST(count(DISTINCT bkt) AS BIGINT) FROM src) AS n_files_g1,
        |  CAST(1 AS BIGINT) AS planned_a,
        |  (SELECT CAST(count(*) AS BIGINT) FROM src WHERE bkt = 3) AS n_a,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM src WHERE bkt = 3) AS ks_a,
        |  CAST(2 AS BIGINT) AS planned_b,
        |  (SELECT CAST(count(*) AS BIGINT) FROM allr WHERE bkt = 3) AS n_b,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM allr WHERE bkt = 3) AS ks_b,
        |  (SELECT CAST(count(*) AS BIGINT) FROM allr) AS n_c,
        |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM allr) AS ks_c,
        |  (SELECT CAST(sum(o_custkey +
        |     CASE WHEN bkt = 5 THEN 777 ELSE 0 END) AS BIGINT) FROM allr) AS cs_c""".stripMargin,
    // ALTER twin: the widened latest re-derived from the split
    // predicates (only the even-key insert carries o_priority =
    // key % 5), the narrow travel phase from the odd-key init; column
    // counts are layout constants (2 wide before, 3 after).
    "src_catalog_alter" ->
      """SELECT 'a_latest' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(count_if(o_orderkey % 2 = 0) AS BIGINT) AS with_col,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey % 5
        |                ELSE 0 END) AS BIGINT) AS pri_sum,
        |  CAST(3 AS BIGINT) AS n_cols
        |FROM orders
        |UNION ALL
        |SELECT 'b_narrow', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT), 0, 0, 2
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY phase""".stripMargin,
    // Branch twin: staged = evens, isolated = odds, published = full;
    // the retire phase is all-constant with the gone-ness boolean.
    "src_catalog_branch" -> {
      def ph(tag: String, where: String): String =
        s"""SELECT '$tag' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
           |  TRUE AS ok
           |FROM orders$where""".stripMargin
      Seq(
        ph("a_staged", " WHERE o_orderkey % 2 = 0"),
        ph("b_isolated", " WHERE o_orderkey % 2 = 1"),
        ph("c_published", ""),
        "SELECT 'd_retired', 0, 0, 0, TRUE")
        .mkString("", "\nUNION ALL\n", "\nORDER BY phase")
    },
    // Drop twin: a_created is the full projection, c_recreated the
    // odd-key re-creation; the guard walk binds as one boolean row.
    "src_catalog_drop" ->
      """SELECT 'a_created' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum, TRUE AS ok
        |FROM orders
        |UNION ALL
        |SELECT 'b_guards', 0, 0, TRUE
        |UNION ALL
        |SELECT 'c_recreated', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT), TRUE
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY phase""".stripMargin,
    // Delete twin: both phases re-derived from the predicate — before
    // is the full projection, after excludes the deleted residue.
    "src_catalog_delete" ->
      """SELECT 'before' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders
        |UNION ALL
        |SELECT 'after', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT),
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 <> 0
        |ORDER BY phase""".stripMargin,
    // Provenance twin: per-bucket content re-derived directly from the
    // partition predicate; the Spark side must reproduce it from the
    // _metadata.file_path attribution alone.
    "src_provenance" ->
      """SELECT doc_id % 4 AS bucket,
        |  CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Catalog twin: every phase re-derived from its split predicate —
    // gen1 is the shared fixture's init split, gen2/latest the full
    // table (latest ≡ gen2 through the compacted files), ins_gen1 the
    // insert table's seed split, ins_after the full projection again.
    "src_catalog_sql" -> {
      def ph(tag: String, where: String): String =
        s"""SELECT '$tag' AS phase,
           |  CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           |  CAST(sum(length(o_orderstatus)) AS BIGINT) AS status_chars,
           |  CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT) AS price_micro,
           |  CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS ts_min
           |FROM orders$where""".stripMargin
      Seq(
        ph("gen1", " WHERE o_orderkey % 4 <> 0"),
        ph("gen2", ""),
        ph("latest", ""),
        ph("ins_gen1", " WHERE o_orderkey % 3 = 0"),
        ph("ins_after", ""),
        // TIMESTAMP AS OF twins: gen 1's own commit stamp serves gen 1,
        // the compacted gen 3's serves the full (latest) content.
        ph("ts_gen1", " WHERE o_orderkey % 4 <> 0"),
        ph("ts_latest", "")).mkString("", "\nUNION ALL\n", "\nORDER BY phase")
    },
    // MoR twin: visibility re-derived from the delete predicate; file
    // shapes from the layout constants (base files carried verbatim +
    // one tombstone, then the materialized rewrite).
    "src_snapshot_mor" ->
      s"""WITH al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders),
         |vis AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders WHERE o_orderkey % $MorDeleteMod <> 3)
         |SELECT CAST(1 AS BIGINT) AS gen,
         |       CAST($SnapInitFiles AS BIGINT) AS n_data_files,
         |       CAST(0 AS BIGINT) AS n_delete_files,
         |       n AS visible_rows, ks AS visible_key_sum
         |FROM al
         |UNION ALL
         |SELECT 2, $SnapInitFiles, 1, n, ks FROM vis
         |UNION ALL
         |SELECT 3, $MorMaterializeFiles, 0, n, ks FROM vis
         |ORDER BY gen""".stripMargin,
    // Lakehouse-loop twin: the whole composition re-derived from the
    // shared split bucketing and content hash; cdc_added must equal
    // accepted BY CONSTRUCTION (the manifest diff of an append is the
    // batch), so both phases read from the same CTE.
    "pipeline_lakehouse" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, sha256(text) AS h,
         |    CASE WHEN bucket < ${graft.queries.SampleOps.TrainPct} THEN 'train'
         |         ELSE 'other' END AS split
         |  FROM (SELECT doc_id, text,
         |          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
         |        FROM documents) t),
         |hist AS MATERIALIZED (SELECT doc_id, h FROM d WHERE split = 'train'),
         |bat AS MATERIALIZED (SELECT doc_id, h FROM d WHERE split <> 'train'),
         |acc AS MATERIALIZED (
         |  SELECT doc_id, h FROM bat WHERE h NOT IN (SELECT h FROM hist)),
         |drp AS (SELECT doc_id, h FROM bat WHERE h IN (SELECT h FROM hist)),
         |fin AS (SELECT doc_id, h FROM hist UNION ALL SELECT doc_id, h FROM acc)
         |SELECT 'accepted' AS phase, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(DISTINCT h) AS BIGINT) AS n_hashes,
         |       CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM acc
         |UNION ALL
         |SELECT 'batch', count(*), count(DISTINCT h), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM bat
         |UNION ALL
         |SELECT 'cdc_added', count(*), count(DISTINCT h), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM acc
         |UNION ALL
         |SELECT 'dropped', count(*), count(DISTINCT h), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM drp
         |UNION ALL
         |SELECT 'final', count(*), count(DISTINCT h), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM fin
         |UNION ALL
         |SELECT 'history', count(*), count(DISTINCT h), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM hist
         |ORDER BY phase""".stripMargin,
    // Connector twin: DuckDB reads the ORIGINAL parquet with the
    // fixture's split predicates; Spark reads the committed snapshot
    // through the DSv2 readers — agreement gates the custom decode.
    "src_connector_read" ->
      s"""WITH g1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |         CAST(sum(length(o_orderstatus)) AS BIGINT) AS status_chars,
         |         CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT) AS price_micro,
         |         CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS ts_min
         |  FROM orders WHERE o_orderkey % 4 <> 0),
         |g2 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
         |         CAST(sum(length(o_orderstatus)) AS BIGINT) AS status_chars,
         |         CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT) AS price_micro,
         |         CAST(min(epoch_us(o_orderdate)) AS BIGINT) AS ts_min
         |  FROM orders)
         |SELECT CAST(1 AS BIGINT) AS gen, * FROM g1
         |UNION ALL
         |SELECT 2, * FROM g2
         |ORDER BY gen""".stripMargin,
    // Schema-evolution twin: the merged and connector phases are the
    // IDENTICAL statement over the full table (old rows count no
    // priority), so native-merge ≡ connector-decode is value-gated.
    "src_snapshot_schema_evo" -> {
      val full =
        s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(CASE WHEN o_orderkey % 2 <> 0 THEN o_orderpriority END) AS BIGINT) AS with_priority,
           |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           |  CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT) AS price_micro
           |FROM orders""".stripMargin
      s"""WITH f AS MATERIALIZED ($full)
         |SELECT 'connector' AS phase, * FROM f
         |UNION ALL
         |SELECT 'gen1',
         |  CAST(count(*) AS BIGINT), CAST(0 AS BIGINT),
         |  CAST(sum(o_orderkey) AS BIGINT),
         |  CAST(sum(CAST(floor(o_totalprice * 1000000.0) AS DECIMAL(38,0))) AS BIGINT)
         |FROM orders WHERE o_orderkey % 2 = 0
         |UNION ALL
         |SELECT 'merged', * FROM f
         |ORDER BY phase""".stripMargin
    },
    // Evolution twin: each epoch's per-slice min/max of BOTH columns
    // are that slice's parquet footer stats by construction, so the
    // admitted-file count per probe re-derives relationally over the
    // mixed layout; content sums probe the full two-epoch table.
    "src_snapshot_evolve" ->
      s"""WITH mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS mk,
         |                   CAST(max(o_custkey) AS BIGINT) AS mc FROM orders),
         |e1 AS MATERIALIZED (
         |  SELECT (o_orderkey * $EvolveSlices) // (mk + 1) AS s,
         |         min(o_orderkey) AS klo, max(o_orderkey) AS khi,
         |         min(o_custkey) AS clo, max(o_custkey) AS chi
         |  FROM orders, mx WHERE o_orderkey % 2 = 0 GROUP BY 1),
         |e2 AS MATERIALIZED (
         |  SELECT (o_custkey * $EvolveSlices) // (mc + 1) AS s,
         |         min(o_orderkey) AS klo, max(o_orderkey) AS khi,
         |         min(o_custkey) AS clo, max(o_custkey) AS chi
         |  FROM orders, mx WHERE o_orderkey % 2 <> 0 GROUP BY 1),
         |sl AS MATERIALIZED (SELECT * FROM e1 UNION ALL SELECT * FROM e2),
         |b AS (SELECT mk // 4 AS lo1, mk // 2 AS hi1,
         |             mc // 4 AS lo2, mc // 2 AS hi2 FROM mx),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM sl)
         |SELECT 'custkey' AS probe, n.total AS n_files_total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl, b
         |   WHERE clo <= hi2 AND chi >= lo2) AS n_files_read,
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders, b
         |   WHERE o_custkey BETWEEN lo2 AND hi2) AS n_rows,
         |  (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders, b
         |   WHERE o_custkey BETWEEN lo2 AND hi2) AS key_sum
         |FROM n
         |UNION ALL
         |SELECT 'orderkey', n.total,
         |  (SELECT CAST(count(*) AS BIGINT) FROM sl, b
         |   WHERE klo <= hi1 AND khi >= lo1),
         |  (SELECT CAST(count(*) AS BIGINT) FROM orders, b
         |   WHERE o_orderkey BETWEEN lo1 AND hi1),
         |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders, b
         |   WHERE o_orderkey BETWEEN lo1 AND hi1)
         |FROM n
         |ORDER BY probe""".stripMargin,
    // Upsert twin: gen 2 is a 1:1 replace (same row count, custkey sum
    // shifted by the batch delta); gen 3's append under upserted keys
    // is ADDITIVE (sequence semantics: the newer rows outrank the
    // older tombstone). File counts from the layout constants.
    "src_snapshot_upsert" ->
      s"""WITH base AS MATERIALIZED (
         |  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 4 <> 0),
         |b AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_custkey) AS BIGINT) AS cs FROM base),
         |u AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_custkey) AS BIGINT) AS cs
         |  FROM base WHERE o_orderkey % $UpsertMod = 1),
         |r AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_custkey) AS BIGINT) AS cs
         |  FROM base WHERE o_orderkey % $UpsertReinsertMod = 1)
         |SELECT CAST(1 AS BIGINT) AS gen,
         |  CAST($SnapInitFiles AS BIGINT) AS n_data_files,
         |  CAST(0 AS BIGINT) AS n_delete_files,
         |  b.n AS n_rows, b.cs AS cust_sum
         |FROM b
         |UNION ALL
         |SELECT 2, ${SnapInitFiles + 1}, 1, b.n, b.cs + $UpsertDelta * u.n
         |FROM b, u
         |UNION ALL
         |SELECT 3, ${SnapInitFiles + 2}, 1, b.n + r.n,
         |  b.cs + $UpsertDelta * u.n + r.cs + $ReinsertDelta * r.n
         |FROM b, u, r
         |ORDER BY gen""".stripMargin,
    // CDC-apply twin: the feed reconstructed relationally, each
    // generation's view = latest change per key (max_by over lsn)
    // among batches <= gen; tombstone file counts are one per upsert
    // commit by construction. [[streamMedallion]] binds the SAME text:
    // its silver generation g is by construction the same view.
    "src_snapshot_cdc_apply" -> CdcApplyOracle,
    "stream_medallion" -> CdcApplyOracle,
    // Time-travel twin: per-generation content from the split
    // predicates; hop file counts from the layout constants; footer
    // row deltas re-derived relationally (the compact hop's MUST be
    // zero — content-neutrality under the value gate).
    "src_connector_timetravel" ->
      s"""WITH f AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders),
         |i AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders WHERE o_orderkey % 4 <> 0),
         |ap AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n
         |  FROM orders WHERE o_orderkey % 4 = 0)
         |SELECT CAST(1 AS BIGINT) AS gen, i.n AS n_rows, i.ks AS key_sum,
         |       CAST($SnapInitFiles AS BIGINT) AS n_added_files,
         |       CAST(0 AS BIGINT) AS n_removed_files,
         |       i.n AS row_delta
         |FROM i
         |UNION ALL
         |SELECT 2, f.n, f.ks, $SnapAppendFiles, 0, ap.n FROM f, ap
         |UNION ALL
         |SELECT 3, f.n, f.ks, $SnapCompactFiles,
         |       ${SnapInitFiles + SnapAppendFiles}, 0 FROM f
         |ORDER BY gen""".stripMargin,
    // History twin: every footer-metadata row count re-derived
    // relationally with the fixture's split predicate; a disagreeing
    // footer (or a miscounted new-vs-carried split) breaks the hash.
    // The recorded action markers are pinned from the fixture's
    // construction (two appends, one compaction).
    "src_snapshot_history" ->
      s"""WITH init AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n
         |  FROM orders WHERE o_orderkey % 4 <> 0),
         |app AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n
         |  FROM orders WHERE o_orderkey % 4 = 0),
         |al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
         |SELECT CAST(1 AS BIGINT) AS gen, 'append' AS action,
         |       CAST($SnapInitFiles AS BIGINT) AS n_files,
         |       CAST($SnapInitFiles AS BIGINT) AS n_new_files,
         |       init.n AS new_rows, init.n AS total_rows
         |FROM init
         |UNION ALL
         |SELECT 2, 'append', ${SnapInitFiles + SnapAppendFiles}, $SnapAppendFiles,
         |       app.n, al.n
         |FROM app, al
         |UNION ALL
         |SELECT 3, 'compact', $SnapCompactFiles, $SnapCompactFiles, al.n, al.n
         |FROM al
         |ORDER BY gen""".stripMargin,
    // Segmented manifests: per generation, the own-manifest row count
    // (batch files + one parent ref past gen 1) gates the O(batch)
    // commit claim as fixture constants, and the chain-resolved
    // content is the cumulative residue slices recomputed relationally.
    "src_snapshot_segments" -> (1 to SegGens).map { g =>
      val pref = if (g == 1) 0 else 1
      s"""SELECT CAST($g AS BIGINT) AS gen,
         |  CAST(${SegFiles + pref} AS BIGINT) AS manifest_rows,
         |  CAST(${g * SegFiles} AS BIGINT) AS files_visible,
         |  CAST((SELECT count(*) FROM orders
         |        WHERE o_orderkey % $SegGens < $g) AS BIGINT) AS visible_rows,
         |  CAST((SELECT sum(o_orderkey) FROM orders
         |        WHERE o_orderkey % $SegGens < $g) AS BIGINT) AS key_sum""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY gen"),
    // Connector tail of the segmented lineage: batches 0-2 are the
    // three slices (batch 0 = the chain-resolved initial load of gen 1
    // = slice 0 alone), the checkpoint hop delivers nothing (absent
    // row), batch 4 is the post-checkpoint slice, and -1 is the
    // checkpoint generation's plain read (cumulative through slice 2).
    "src_connector_segments" -> {
      def sl(cond: String, first: Boolean) = {
        val a1 = if (first) " AS cnt" else ""
        val a2 = if (first) " AS key_sum" else ""
        s"""CAST((SELECT count(*) FROM orders WHERE $cond) AS BIGINT)$a1,
           |  CAST((SELECT sum(o_orderkey) FROM orders WHERE $cond) AS BIGINT)$a2""".stripMargin
      }
      (Seq(s"SELECT CAST(-1 AS BIGINT) AS batch_id,\n  ${sl(s"o_orderkey % $SegGens < 3", first = true)}") ++
        Seq(0, 1, 2).map(i =>
          s"SELECT CAST($i AS BIGINT),\n  ${sl(s"o_orderkey % $SegGens = $i", first = false)}") ++
        Seq(s"SELECT CAST(4 AS BIGINT),\n  ${sl(s"o_orderkey % $SegGens = 3", first = false)}"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY batch_id")
    },
    // CDC twin: the append hop's added content is exactly the batch
    // predicate's rows; the compaction hop adds the whole table and
    // removes the whole table, netting to zero. File counts from the
    // shared layout constants.
    "src_snapshot_changes" ->
      s"""WITH app AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders WHERE o_orderkey % 4 = 0),
         |al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders)
         |SELECT CAST(1 AS BIGINT) AS from_gen, CAST(2 AS BIGINT) AS to_gen,
         |       CAST($SnapAppendFiles AS BIGINT) AS n_added_files,
         |       CAST(0 AS BIGINT) AS n_removed_files,
         |       n AS added_rows, ks AS added_key_sum,
         |       n AS net_row_delta, ks AS net_key_delta
         |FROM app
         |UNION ALL
         |SELECT 2, 3, $SnapCompactFiles,
         |       ${SnapInitFiles + SnapAppendFiles},
         |       n, ks, 0, 0
         |FROM al
         |ORDER BY from_gen""".stripMargin,
    "src_snapshot_expire" ->
      s"""WITH al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM orders)
         |SELECT 'after' AS phase, CAST(1 AS BIGINT) AS n_manifests,
         |       CAST($SnapCompactFiles AS BIGINT) AS n_live_files,
         |       n_rows, key_sum
         |FROM al
         |UNION ALL
         |SELECT 'before', 3,
         |       ${SnapInitFiles + SnapAppendFiles + SnapCompactFiles},
         |       n_rows, key_sum
         |FROM al
         |ORDER BY phase""".stripMargin,
    // Pure-SQL MERGE twin: gen 2's content = all rows with the update
    // predicate's statuses flipped, plus the derived inserts; file
    // counts from the bucket constants (untouched carried + touched
    // rewritten = MergeBuckets either way).
    "src_snapshot_merge" ->
      s"""WITH up AS (
         |  SELECT CAST(count(*) AS BIGINT) AS c
         |  FROM orders WHERE o_orderkey % $MergeMod = 1),
         |ins AS (
         |  SELECT CAST(count(*) AS BIGINT) AS c,
         |         CAST(coalesce(sum(o_orderkey + $MergeInsertOffset), 0) AS BIGINT) AS ks
         |  FROM orders WHERE o_orderkey % $MergeMod = 2),
         |al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders)
         |SELECT CAST(1 AS BIGINT) AS gen,
         |       CAST($MergeBuckets AS BIGINT) AS n_files,
         |       al.n AS n_rows, al.ks AS key_sum,
         |       CAST(0 AS BIGINT) AS n_updated, CAST(0 AS BIGINT) AS n_inserted
         |FROM al
         |UNION ALL
         |SELECT 2, $MergeBuckets, al.n + ins.c, al.ks + ins.ks, up.c, ins.c
         |FROM al, up, ins
         |ORDER BY gen""".stripMargin,
    "src_snapshot" ->
      s"""WITH init AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM orders WHERE o_orderkey % 4 <> 0),
         |al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM orders)
         |SELECT CAST(1 AS BIGINT) AS gen,
         |       CAST($SnapInitFiles AS BIGINT) AS n_files, n_rows, key_sum
         |FROM init
         |UNION ALL
         |SELECT 2, ${SnapInitFiles + SnapAppendFiles}, n_rows, key_sum FROM al
         |UNION ALL
         |SELECT 3, $SnapCompactFiles, n_rows, key_sum FROM al
         |ORDER BY gen""".stripMargin,
    // Gen 3 restores gen 1: identical content AND file count (the
    // restore re-points at gen 1's files; it writes none of its own),
    // while gen 2 still serves the full table for audit.
    "src_snapshot_rollback" ->
      s"""WITH init AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM orders WHERE o_orderkey % 4 <> 0),
         |al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM orders)
         |SELECT CAST(1 AS BIGINT) AS gen,
         |       CAST($SnapInitFiles AS BIGINT) AS n_files, n_rows, key_sum
         |FROM init
         |UNION ALL
         |SELECT 2, ${SnapInitFiles + SnapAppendFiles}, n_rows, key_sum FROM al
         |UNION ALL
         |SELECT 3, $SnapInitFiles, n_rows, key_sum FROM init
         |ORDER BY gen""".stripMargin,
    // The two staged batches' audited numbers, then the main lineage
    // after the gate: the published generation is init + the CLEAN
    // batch only — its violation count equals the unaudited init's own
    // (the gated batch contributed zero).
    "src_snapshot_wap" ->
      s"""WITH ev AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         |odd AS (SELECT * FROM orders WHERE o_orderkey % 2 <> 0)
         |SELECT 'bad_staged' AS phase,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_bad,
         |  CAST(coalesce(sum(o_orderkey), 0) AS BIGINT) AS key_sum
         |FROM odd WHERE o_totalprice >= $WapAuditMaxPrice
         |UNION ALL
         |SELECT 'good_staged', count(*), 0, CAST(coalesce(sum(o_orderkey), 0) AS BIGINT)
         |FROM odd WHERE o_totalprice < $WapAuditMaxPrice
         |UNION ALL
         |SELECT 'main', count(*),
         |  count(*) FILTER (WHERE o_totalprice >= $WapAuditMaxPrice),
         |  CAST(sum(o_orderkey) AS BIGINT)
         |FROM (SELECT * FROM ev
         |      UNION ALL
         |      SELECT * FROM odd WHERE o_totalprice < $WapAuditMaxPrice)
         |ORDER BY phase""".stripMargin,
    // Counts from the shared layout constants; the surviving snapshot
    // and the staged branch re-derive from the split predicates.
    "src_snapshot_vacuum" ->
      s"""WITH init AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |         CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         |  FROM orders WHERE o_orderkey % 4 <> 0),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS staged_rows
         |  FROM orders WHERE o_orderkey % 100 = 0)
         |SELECT
         |  CAST(${SnapInitFiles + VacuumOrphanFiles + SnapAppendFiles} AS BIGINT) AS n_examined,
         |  CAST($VacuumOrphanFiles AS BIGINT) AS n_removed,
         |  CAST($SnapInitFiles AS BIGINT) AS n_live_files,
         |  n_rows, key_sum, staged_rows
         |FROM init, st""".stripMargin,
    // The clone references gen 2's files (same count, zero copied);
    // the evolved clone adds the experiment batch; the source stays
    // identical before and after.
    "src_snapshot_clone" ->
      s"""WITH al AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders),
         |b AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(o_orderkey) AS BIGINT) AS ks
         |  FROM orders WHERE o_orderkey % 100 = 0)
         |SELECT 'clone_gen1' AS phase,
         |  CAST(${SnapInitFiles + SnapAppendFiles} AS BIGINT) AS n_files,
         |  al.n AS n_rows, al.ks AS key_sum
         |FROM al
         |UNION ALL
         |SELECT 'clone_gen2', ${SnapInitFiles + 2 * SnapAppendFiles},
         |  al.n + b.n, al.ks + b.ks
         |FROM al, b
         |UNION ALL
         |SELECT 'src_after', ${SnapInitFiles + SnapAppendFiles}, al.n, al.ks FROM al
         |UNION ALL
         |SELECT 'src_gen2', ${SnapInitFiles + SnapAppendFiles}, al.n, al.ks FROM al
         |ORDER BY phase""".stripMargin,
    // The bucketed layout is result-transparent — the twin is the plain
    // join over the original parquet.
    "src_bucketed" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_csv_roundtrip" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "src_xml_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "src_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS cnt,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "src_text_roundtrip" ->
      """SELECT o_orderpriority AS value, count(*) AS cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_partitioned" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "src_json_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Each generation carries exactly its own columns; the merged read
    // must neither lose rows nor invent values for the missing column.
    "src_schema_evolution" ->
      """SELECT count(*) AS rows,
        |  count(*) FILTER (WHERE o_orderkey % 2 = 0) AS with_price,
        |  count(*) FILTER (WHERE o_orderkey % 2 <> 0) AS with_priority,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE o_orderkey % 2 = 0) AS DOUBLE) AS sum_price
        |FROM orders""".stripMargin,
    // Good rows must aggregate exactly like the original table; the
    // quarantine row carries the planted line count (constant generated
    // from CorruptLines).
    "src_json_corrupt" ->
      s"""SELECT o_orderstatus AS status, count(*) AS cnt
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL SELECT '_corrupt', $CorruptLines
        |ORDER BY status""".stripMargin,
    // The VARIANT encode -> parquet -> typed-probe loop is lossless, so
    // the twin reads the raw JSON strings.
    "src_variant_roundtrip" ->
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The fragment→compact rewrite is lossless, so the twin is the plain
    // aggregate over the original table.
    "src_compaction" ->
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
