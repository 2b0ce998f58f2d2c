package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-Spark snapshot-isolated table maintenance — the manifest layer
  * that ties the engine's existing maintenance ops (compaction, CDC
  * merge, rollup merge) into a versioned table WITHOUT a lakehouse
  * dependency: each generation is one tiny parquet manifest listing the
  * data files that make up that snapshot, and readers resolve a
  * generation ONLY through its manifest — never by listing the data
  * directory.
  *
  * The three invariants this buys at 100 TB (each one exercised by the
  * registered `src_snapshot` query and pinned by SnapshotTableSpec):
  *
  *  - '''Append without rewrite''': committing a batch writes ONLY the
  *    batch's files; the new manifest lists the old generation's files
  *    plus the new ones. History is never copied.
  *  - '''Time travel''': a compaction writes compacted files and a new
  *    manifest; the pre-compaction manifest still lists the original
  *    files, so "read as of generation N" keeps working after the
  *    rewrite — the content is identical, the file sets disjoint.
  *  - '''Snapshot isolation''': a reader planning generation N scans
  *    exactly manifest N's files (the file list IS the scan's
  *    FileIndex), untouched by concurrent commits of N+1.
  *
  * Manifests are data-size-independent (one row per FILE, not per row),
  * so the generation history costs kilobytes against a 100 TB table;
  * production would prune old generations with a retention sweep that
  * deletes manifests first, data files second (the standard
  * expire-snapshots order — a crash between the two steps leaves only
  * unreferenced files, never a dangling manifest).
  */
object SnapshotTable {

  private def manifestPath(table: String, gen: Long): String =
    s"$table/manifests/gen=$gen"

  /** Data files of a freshly-written output directory, listed straight
    * off the FileSystem and rendered exactly as Spark's
    * `DataFrame.inputFiles` renders them (URI with explicit empty
    * authority — `file:///...` — so manifest paths stay
    * byte-comparable to scan-side file identities). One directory
    * status call where the old `spark.read.parquet(dir).inputFiles`
    * idiom paid a full schema inference + InMemoryFileIndex build
    * (~70 ms on the fixture) — per COMMIT, which the multi-commit
    * drills and streaming sinks multiply. Hidden files (`_`/`.`
    * prefixes) are excluded like Spark's own listing filter; order is
    * the sorted path order the planner uses.
    */
  def freshFiles(spark: SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[String]
    try {
      // Recursive: `partitionBy` layouts nest one value-directory
      // level; every path segment below the root obeys the hidden
      // filter, like Spark's own recursive listing.
      val rootDepth = root.toUri.getPath.split("/").length
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val s = it.next()
        val segs = s.getPath.toUri.getPath.split("/").drop(rootDepth)
        if (s.isFile &&
            !segs.exists(n => n.startsWith("_") || n.startsWith("."))) {
          val u = s.getPath.toUri
          out += new java.net.URI(u.getScheme,
            Option(u.getAuthority).getOrElse(""), u.getPath, null, null)
            .toString
        }
      }
    } catch { case _: java.io.FileNotFoundException => }
    out.result().sorted
  }

  /** One manifest row in any of the manifest forms: plain `(path)`,
    * merge-on-read `(path, kind)`, single-column zone map
    * `(path, min_key, max_key)`, multi-column zone map
    * `(path, key_col, min_key, max_key)`, plus an optional `seq` —
    * the Iceberg-style DATA SEQUENCE NUMBER that scopes equality
    * deletes: a `seq`-stamped tombstone applies only to data entries
    * with a STRICTLY SMALLER seq ([[commitUpsert]]), while a legacy
    * unstamped tombstone applies to the whole snapshot
    * ([[commitDeletes]]' documented semantic). Absent columns are
    * `None`; an absent data seq reads as 0.
    *
    * `nRows`/`bytes` are the file's FOOTER ROW COUNT and on-disk size,
    * recorded at COMMIT time (the writer already has the footers open)
    * so that scan-planning statistics, the `files` metadata table and
    * DESCRIBE-HISTORY-style consumers answer from ONE manifest read —
    * never one sequential driver FS/footer round trip per file, the
    * O(files) planning bottleneck a 100k-file table cannot afford.
    * Absent on legacy manifests; every consumer falls back to the
    * per-file reads there.
    */
  private[sources] final case class ManifestRow(path: String,
      kind: Option[String] = None, keyCol: Option[String] = None,
      minKey: Option[Long] = None, maxKey: Option[Long] = None,
      seq: Option[Long] = None, nRows: Option[Long] = None,
      bytes: Option[Long] = None, nNulls: Option[Long] = None)

  /** Driver-side manifest read (parquet-hadoop Group API, no Spark
    * job). A manifest is a kilobyte file — routing it through
    * `spark.read` pays a full job-scheduling round (~0.1-0.2s) per
    * metadata lookup, which multiplies across every snapshot command
    * (a 3-generation expire alone resolves ~8 manifests). Metadata-
    * plane reads stay on the driver at any table size: O(files) rows,
    * never data pages.
    */
  private def readManifestRows(spark: SparkSession,
      dir: String): Seq[ManifestRow] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    val parts = fs.listStatus(d).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .sortBy(_.toString)
    parts.flatMap { p =>
      val reader = ParquetReader.builder(new GroupReadSupport(), p)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        val t = g.getType
        def str(f: String): Option[String] =
          if (t.containsField(f) && g.getFieldRepetitionCount(f) > 0)
            Some(g.getString(f, 0)) else None
        def lng(f: String): Option[Long] =
          if (t.containsField(f) && g.getFieldRepetitionCount(f) > 0)
            Some(g.getLong(f, 0)) else None
        ManifestRow(g.getString("path", 0), str("kind"), str("key_col"),
          lng("min_key"), lng("max_key"), lng("seq"),
          lng("n_rows"), lng("bytes"), lng("n_nulls"))
      }.toVector
      finally reader.close()
    }.toSeq
  }

  /** Driver-side manifest write — ONE parquet part file inside the
    * staging DIRECTORY (the directory, not the file, is what the
    * atomic rename publishes, so the first-writer-wins semantics of
    * [[writeManifestAt]] — including the POSIX nested-rename
    * detection — are unchanged). Column order is canonical
    * (path, kind?, key_col?, min_key?, max_key?) so positional tuple
    * reads of the stats forms keep working.
    */
  private def writeManifestRows(spark: SparkSession, stagingDir: String,
      rows: Seq[ManifestRow]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val b = Types.buildMessage()
    b.addField(
      Types.required(BINARY).as(LogicalTypeAnnotation.stringType()).named("path"))
    def strField(n: String) = b.addField(
      Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(n))
    def lngField(n: String) = b.addField(Types.optional(INT64).named(n))
    val hasKind = rows.exists(_.kind.isDefined)
    val hasKeyCol = rows.exists(_.keyCol.isDefined)
    val hasStats = rows.exists(_.minKey.isDefined)
    val hasSeq = rows.exists(_.seq.isDefined)
    val hasMeta = rows.exists(r => r.nRows.isDefined || r.bytes.isDefined)
    val hasNulls = rows.exists(_.nNulls.isDefined)
    if (hasKind) strField("kind")
    if (hasKeyCol) strField("key_col")
    if (hasStats) { lngField("min_key"); lngField("max_key") }
    if (hasSeq) lngField("seq")
    if (hasMeta) { lngField("n_rows"); lngField("bytes") }
    if (hasNulls) lngField("n_nulls")
    val msgType = b.named("spark_schema")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    GroupWriteSupport.setSchema(msgType, conf)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$stagingDir/part-00000.parquet"))
      .withConf(conf).build()
    val factory = new SimpleGroupFactory(msgType)
    try rows.foreach { r =>
      val g = factory.newGroup()
      g.add("path", r.path)
      r.kind.foreach(g.add("kind", _))
      r.keyCol.foreach(g.add("key_col", _))
      r.minKey.foreach(g.add("min_key", _))
      r.maxKey.foreach(g.add("max_key", _))
      r.seq.foreach(g.add("seq", _))
      r.nRows.foreach(g.add("n_rows", _))
      r.bytes.foreach(g.add("bytes", _))
      r.nNulls.foreach(g.add("n_nulls", _))
      writer.write(g)
    } finally writer.close()
  }

  /** Commit `df` as generation `gen`: write its data files under a
    * generation-private directory, then publish the manifest listing
    * them (plus everything `carryFrom`'s manifest already listed, for
    * append commits). The manifest write is the COMMIT POINT — readers
    * only ever see fully-written data files because the manifest is
    * published after the data lands (the write-ahead ordering every
    * table format uses).
    */
  def commit(df: DataFrame, table: String, gen: Long,
      carryFrom: Option[Long] = None, replace: Boolean = false,
      action: String = "append"): Unit = {
    val spark = df.sparkSession
    // Data stages under an ATTEMPT-private directory, so a replace
    // commit (streaming replay) never deletes files a concurrent reader
    // may be resolving through the already-published manifest — the
    // manifest swap below is the only switch point.
    val genDir = s"$table/data/gen=$gen"
    val attempt = attemptName()
    val dataDir = s"$genDir/a=$attempt"
    df.write.mode("overwrite").parquet(dataDir)
    val fresh = freshFiles(spark, dataDir)
    publishAppend(spark, table, gen, fresh, carryFrom, replace, action)
    // Post-switch cleanup: earlier attempts of THIS generation are now
    // unreferenced by any manifest (older generations list their own
    // paths; this generation's manifest lists only the fresh attempt).
    // A reader that resolved the pre-replay manifest and is still
    // mid-scan can lose files here — the latest generation is
    // single-writer/quiesced-reader during a replay window, like every
    // lakehouse sink's last in-flight commit.
    if (replace) sweepOtherAttempts(spark, genDir, attempt)
  }

  /** Publish `fresh` as generation `gen`, carrying `carryFrom`'s files
    * forward — the manifest half of [[commit]], shared with writers
    * that stage their own data files (the DataSource V2 write path).
    * Tombstones carry THROUGH appends: dropping them would resurrect
    * every merge-on-read-deleted row in the new generation. (Key-level
    * tombstones apply to the whole snapshot, so an appended row under
    * a deleted key stays invisible until a materialization purges —
    * the documented MoR semantic.)
    */
  def publishAppend(spark: SparkSession, table: String, gen: Long,
      fresh: Seq[String], carryFrom: Option[Long],
      replace: Boolean = false, action: String = "append"): Unit =
    publishAppendRows(spark, table, gen,
      fresh.sorted.map(p => ManifestRow(p)), carryFrom, replace, action,
      statFresh = true)

  /** [[publishAppend]]'s core over PRE-BUILT fresh rows — the path for
    * writers whose files already carry recorded stats (a published WAP
    * branch reuses its branch manifest's rows instead of paying a
    * second O(files) footer pass).
    */
  private def publishAppendRows(spark: SparkSession, table: String, gen: Long,
      freshRows: Seq[ManifestRow], carryFrom: Option[Long],
      replace: Boolean = false, action: String = "append",
      statFresh: Boolean = false): Unit = {
    // FULL-ROW carry: tombstone kinds AND sequence numbers survive an
    // append verbatim — a path-only carry would strip [[commitUpsert]]'s
    // seq stamps and silently widen its scoped tombstones back to
    // whole-snapshot deletes on the next append.
    val carried = carryFrom.toSeq
      .flatMap(g => readManifestRows(spark, manifestPath(table, g)))
    // Fresh files are stamped with this commit's sequence ONLY in a
    // seq-carrying lineage (anything after the first upsert): stamped
    // data outranks every older tombstone, so an append under an
    // upserted key stays visible. A never-upserted lineage keeps the
    // legacy unstamped manifest form byte-for-byte.
    val freshSeq = if (carried.exists(_.seq.isDefined)) Some(gen) else None
    val freshKind = if (carried.exists(_.kind.isDefined)) Some("data") else None
    // statFresh callers hand files THIS layer (or this statement's
    // tasks) just wrote — their footers are readable by construction,
    // so the stats are REQUIRED (selfWritten): silently publishing
    // stat-less rows would disable count pushdown and manifest-served
    // planning stats for the generation. Pre-built rows (statFresh =
    // false) carry whatever their producer recorded.
    val statted =
      if (statFresh) metaRows(spark, freshRows.map(_.path),
        kind = freshKind, seq = freshSeq, selfWritten = true)
      else freshRows.map(_.copy(kind = freshKind, seq = freshSeq))
    writeManifest(spark, table, gen, replace,
      (carried ++ statted)
        .sortBy(r => (r.kind.getOrElse("data"), r.path)), Some(action))
  }

  /** Publish `gen` as a FILE-PRUNED copy-on-write rewrite: every
    * manifest row of generation `gen - 1` whose path is NOT in
    * `rewritten` carries forward VERBATIM — including its zone-map
    * stats rows, so later pruning keeps working on the untouched
    * files — and `fresh` (the rewritten survivors) lands as plain data
    * rows. Refuses non-plain lineages (tombstones / segment chains):
    * a subset rewrite over merge-on-read state would need tombstone
    * reconciliation this commit deliberately does not attempt — the
    * caller falls back to the whole-snapshot path whose readAs guards
    * own those semantics.
    */
  def publishSubsetRewrite(spark: SparkSession, table: String, gen: Long,
      rewritten: Set[String], fresh: Seq[String], action: String,
      freshPartition: Option[(String, Long)] = None): Unit = {
    val prev = readManifestRows(spark, manifestPath(table, gen - 1))
    require(prev.forall(r => r.kind.forall(_ == "data")),
      s"subset rewrite of $table needs a plain data lineage " +
        "(tombstones require the whole-snapshot path)")
    // BLOOM SIDECAR MAINTENANCE, before the commit point: replacement
    // files index like any ingest batch (the append-mode extension the
    // incremental-ingest path uses), so point-lookup pruning keeps its
    // selectivity as UPDATE/DELETE/MERGE churn the table instead of
    // degrading to admit-everything on every rewritten file. Ordered
    // BEFORE the manifest publish so a lost first-writer-wins race
    // leaves only sidecar rows for never-published paths, which no
    // planner consults (candidates always come from a manifest); the
    // rewritten files' stale rows are equally unreachable. Columns the
    // replacement schema lacks skip — their unindexed files admit
    // conservatively, the standard best-effort contract.
    // BEST-EFFORT, matching the read side's contract: readers treat a
    // missing/partial sidecar as admit-conservatively, so an index
    // maintenance failure must degrade pruning, never abort the DML
    // commit itself (the advisory index would otherwise be a hard
    // dependency of every UPDATE/DELETE/MERGE, with failure and
    // latency scaling by indexed-column count).
    if (fresh.nonEmpty) {
      try {
        val cols = bloomColumns(spark, table)
        if (cols.nonEmpty) {
          val schema = spark.read.parquet(fresh: _*).schema.fieldNames.toSet
          cols.filter(schema.contains)
            .foreach(c => writeBloomIndex(spark, table, c, fresh, append = true))
        }
      } catch {
        case e: Exception =>
          System.err.println(
            s"snapshot: bloom sidecar maintenance failed for $table " +
              s"(rewrite proceeds; affected files admit conservatively): $e")
      }
    }
    val carried = prev.filterNot(r => rewritten.contains(r.path))
    // A PARTITION-SCOPED rewrite (compact_partition) re-stamps its
    // fresh files with the point zone row the routing guarantees, so
    // pruning and key-grouped joins keep working across maintenance.
    val freshRows = freshPartition match {
      case Some((c, v)) =>
        val metaMap = fileMeta(spark, fresh.sorted)
          .map(m => m._1 -> ((m._2, m._3))).toMap
        fresh.sorted.map { p =>
          val (n, b) = metaMap(p)
          ManifestRow(p, keyCol = Some(c), minKey = Some(v), maxKey = Some(v),
            nRows = Some(n), bytes = Some(b), nNulls = Some(0L))
        }
      case None => metaRows(spark, fresh, selfWritten = true)
    }
    writeManifest(spark, table, gen, replace = false,
      (carried ++ freshRows)
        .sortBy(r => (r.kind.getOrElse("data"), r.path)), Some(action))
  }

  /** Record `column` as the table's IDENTITY PARTITION column — a
    * marker file under `meta/` (the `.action=`/`.ts=` idiom: the name
    * carries the value, creation is atomic, reads are one directory
    * listing). The marker is METADATA for the write path and SHOW
    * surfaces only: readers never need it, because partition pruning
    * rides the per-file `min = max = value` zone rows every
    * partition-routed commit records in the manifest — the standard
    * two-birds trick of identity partitioning on an integer-physical
    * column (directory-granular layout AND zone-map-exact pruning from
    * the same rows). Written AFTER the defining generation publishes,
    * so a CTAS losing the first-writer-wins race never plants its spec
    * over the winner's.
    */
  def recordPartitionColumn(spark: SparkSession, table: String,
      column: String): Unit = {
    val d = new org.apache.hadoop.fs.Path(s"$table/meta")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(d)
    fs.create(new org.apache.hadoop.fs.Path(d, s"partition=$column"),
      false).close()
  }

  /** The recorded identity-partition column, if any — one directory
    * listing; `None` for unpartitioned tables (and on any listing
    * failure: the marker is advisory for writes, never load-bearing
    * for reads).
    */
  def partitionColumn(spark: SparkSession, table: String): Option[String] = {
    val d = new org.apache.hadoop.fs.Path(s"$table/meta")
    try {
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(d)) None
      else fs.listStatus(d).map(_.getPath.getName)
        .collectFirst { case n if n.startsWith("partition=") =>
          n.stripPrefix("partition=") }
    } catch { case _: Exception => None }
  }

  /** Publish partition-routed staged files as generation `gen`: each
    * file whose writer knew its partition value lands with a
    * `min = max = value` zone row on the partition column (recorded
    * from the WRITER's routing — zero footer I/O buys exact pruning),
    * a null-partition file lands as a plain row (admitted
    * conservatively, the standard contract); footer row counts/bytes
    * are stamped like every self-written commit. Carried rows — and
    * their zone stats — survive verbatim via the shared append core.
    */
  def publishPartitionedFiles(spark: SparkSession, table: String, gen: Long,
      partCol: String, files: Seq[(String, Option[Long])],
      carryFrom: Option[Long], action: String = "append",
      replace: Boolean = false): Unit = {
    val metaMap = fileMeta(spark, files.map(_._1).sorted)
      .map(m => m._1 -> ((m._2, m._3))).toMap
    val rows = files.sortBy(_._1).map { case (p, v) =>
      val (n, b) = metaMap(p)
      v match {
        case Some(x) => ManifestRow(p, keyCol = Some(partCol),
          minKey = Some(x), maxKey = Some(x),
          // Routing guarantees the partition column non-null in this
          // file (null partitions land as plain rows).
          nRows = Some(n), bytes = Some(b), nNulls = Some(0L))
        case None => ManifestRow(p, nRows = Some(n), bytes = Some(b))
      }
    }
    publishAppendRows(spark, table, gen, rows, carryFrom, replace,
      action = action, statFresh = false)
  }

  /** The ACTION generation `gen` was committed with ("append",
    * "compact", "optimize", "upsert", "delete", "merge", "rollback",
    * "clone") — `None` for manifests written before actions were
    * recorded. Driver-side directory listing, O(1).
    */
  def commitAction(spark: SparkSession, table: String, gen: Long): Option[String] =
    commitMarkers(spark, table, gen)._1

  /** BOTH staged markers of generation `gen` — `(action, commit
    * wall-clock ms)` — in ONE directory listing: a per-generation
    * consumer (the history relation) would otherwise pay two
    * listStatus round trips against the same manifest directory.
    */
  def commitMarkers(spark: SparkSession, table: String,
      gen: Long): (Option[String], Option[Long]) = {
    val d = new org.apache.hadoop.fs.Path(manifestPath(table, gen))
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) (None, None)
    else {
      val names = fs.listStatus(d).map(_.getPath.getName)
      (names.collectFirst { case n if n.startsWith(".action=") =>
          n.stripPrefix(".action=") },
        names.collectFirst { case n if n.startsWith(".ts=") =>
          n.stripPrefix(".ts=").toLong })
    }
  }

  /** The COMMIT WALL-CLOCK (epoch millis) generation `gen` was
    * published with — the `.ts=` marker staged next to `.action=`, so
    * it publishes atomically with the file list and survives
    * copies/restores that do not preserve file mtimes (the property
    * `TIMESTAMP AS OF` resolution rests on). `None` for manifests
    * written before commit times were recorded. Driver-side directory
    * listing, O(1).
    */
  def commitTimestamp(spark: SparkSession, table: String,
      gen: Long): Option[Long] =
    commitMarkers(spark, table, gen)._2

  /** Every generation paired with its recorded commit stamp (ms),
    * ascending — REFUSING a lineage with any pre-recording manifest:
    * the ONE timestamp-resolution policy, shared by the catalog's
    * `TIMESTAMP AS OF` and the streaming source's `startingTimestamp`
    * so the two surfaces cannot diverge on what a part-stamped
    * lineage means.
    */
  def stampedGenerations(spark: SparkSession,
      table: String): Seq[(Long, Long)] = {
    val stamped = generations(spark, table)
      .map(g => g -> commitTimestamp(spark, table, g))
    val missing = stamped.collect { case (g, None) => g }
    require(missing.isEmpty,
      s"timestamp resolution needs a recorded commit time in every " +
        s"manifest; generation(s) ${missing.mkString(", ")} of $table " +
        "predate commit-time recording - address this lineage by " +
        "generation instead")
    stamped.collect { case (g, Some(ts)) => g -> ts }
  }

  /** Commit wall-clock source — swappable ONLY so the spec can pin a
    * frozen (same-millisecond) clock and prove the monotonicized
    * stamping below; production never touches it.
    */
  private[graft] var commitClock: () => Long = () => System.currentTimeMillis()

  private val attemptSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A WRITER-UNIQUE attempt name — (pid, per-JVM counter), never
    * derived from listing existing attempts: a list-then-pick scheme is
    * check-then-act, and two concurrent committers of the same
    * generation would pick the same number and clobber each other's
    * staged data before either publishes. With unique names every
    * writer stages in isolation and the manifest swap alone decides the
    * winner.
    */
  private[graft] def attemptName(): String =
    s"${ProcessHandle.current().pid()}_${attemptSeq.incrementAndGet()}"

  /** Publish generation `gen` as an explicit file list — the commit
    * point shared by every writer: [[commit]]'s whole-directory form and
    * file-granular writers (copy-on-write MERGE) that carry an
    * arbitrary subset of the previous generation's files forward.
    *
    * The manifest stages into a dot-prefixed temp directory and moves
    * into place with one RENAME — so the commit point is atomic and
    * FIRST-WRITER-WINS: two writers racing to the same generation
    * cannot both succeed (the loser's rename fails onto the existing
    * target and throws — no lineage is ever silently overwritten).
    * `replace = true` (the streaming sink's same-batch-id replay, the
    * one legitimate re-publish) deletes the old manifest before the
    * rename; that window is why the latest generation is single-writer
    * by contract.
    */
  def publish(spark: SparkSession, table: String, gen: Long,
      paths: Seq[String], replace: Boolean = false,
      action: String = "append"): Unit =
    writeManifest(spark, table, gen, replace,
      metaRows(spark, paths), Some(action))

  /** Shared staged-rename manifest writer for [[publish]] and
    * [[publishWithStats]]. Every generation manifest is stamped with
    * its commit wall-clock, MONOTONICIZED against the lineage's
    * youngest earlier stamp (`max(now, prev + 1)` — Delta's
    * in-commit-timestamp posture): two commits landing within one
    * clock tick, or a clock stepping backwards, must never publish
    * out-of-order times, because `TIMESTAMP AS OF` resolves "latest
    * generation committed ≤ ts" and an order inversion would make a
    * recorded timestamp resolve to the WRONG snapshot.
    */
  private def writeManifest(spark: SparkSession, table: String, gen: Long,
      replace: Boolean, rows: Seq[ManifestRow],
      action: Option[String] = None,
      schemaJson: Option[String] = None): Unit = {
    // Youngest earlier stamp, walking DESCENDING and stopping at the
    // first stamped manifest: stamps are monotonic by construction, so
    // the immediate predecessor normally answers in ONE listing — a
    // full-history scan would make every commit O(lineage length)
    // (O(N²) cumulative for a generation-per-micro-batch stream).
    val earlier = generations(spark, table).filter(_ < gen)
      .sorted(Ordering[Long].reverse)
    val prevTs = earlier.iterator
      .map(g => commitTimestamp(spark, table, g))
      .collectFirst { case Some(ts) => ts }
    val ts = math.max(commitClock(), prevTs.map(_ + 1L).getOrElse(0L))
    // A RECORDED SCHEMA (ALTER TABLE's sidecar) propagates to every
    // later manifest: each commit carries its predecessor's sidecar
    // forward unless it records a fresh one, so a snapshot's schema
    // resolves from ITS OWN manifest (expire can never lose the alter
    // by retiring the generation that recorded it). Propagation makes
    // a one-step walk sufficient; the walk still looks a BOUNDED
    // window deeper so a short run of commits from a pre-sidecar
    // writer version cannot silently drop the alter — while the
    // common never-altered lineage stays O(window), not O(history),
    // per commit. A gap longer than the window is the documented
    // mixed-writer-version residual (such a writer drops recorded
    // stats the same way).
    val schema = schemaJson.orElse(
      earlier.take(SchemaPropagationWindow).iterator
        .map(g => recordedSchemaJson(spark, table, g))
        .collectFirst { case Some(js) => js })
    writeManifestAt(spark,
      manifestPath(table, gen),
      s"$table/manifests/.gen=$gen.staging.${attemptName()}",
      replace, rows,
      what = s"generation $gen of $table",
      action = action,
      commitTs = Some(ts),
      schemaJson = schema)
  }

  /** The staged-rename commit core, shared by the generation manifests
    * and the WAP branch manifests ([[stage]]): write rows to a
    * writer-unique staging path, rename onto the target, lose LOUDLY on
    * a concurrent publish.
    */
  private def writeManifestAt(spark: SparkSession, targetPath: String,
      stagingPath: String, replace: Boolean, rows: Seq[ManifestRow],
      what: String, action: Option[String] = None,
      commitTs: Option[Long] = None,
      schemaJson: Option[String] = None): Unit = {
    val target = new org.apache.hadoop.fs.Path(targetPath)
    // The staging path is WRITER-UNIQUE: a shared path would let racer
    // B's overwrite replace racer A's staged file list before A's
    // rename, publishing B's content under A's "successful" commit —
    // the silent lineage mix-up the whole protocol exists to prevent.
    val tmp = new org.apache.hadoop.fs.Path(stagingPath)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    fs.mkdirs(tmp)
    writeManifestRows(spark, tmp.toString, rows)
    // The commit's ACTION rides inside the staged directory (one empty
    // `.action=<name>` marker), so it publishes atomically with the
    // file list — the Iceberg snapshot-summary `operation` analogue.
    // DOT-prefixed (not underscore): Spark's hidden-file filter exempts
    // `_`-names containing '=', so an underscore marker would surface
    // in any spark.read of the manifest directory; dot-prefixed names
    // are invisible to Spark and to [[readManifestRows]] alike.
    action.foreach { a =>
      fs.create(new org.apache.hadoop.fs.Path(tmp, s".action=$a")).close()
    }
    // The commit wall-clock rides the same staged-marker mechanism, so
    // it publishes atomically with the file list and the action.
    commitTs.foreach { ts =>
      fs.create(new org.apache.hadoop.fs.Path(tmp, s".ts=$ts")).close()
    }
    // The RECORDED SCHEMA sidecar (ALTER TABLE evolution) is a dot-
    // prefixed JSON file INSIDE the staged directory — content, not a
    // name payload — publishing atomically with everything else and
    // invisible to parquet readers like the other markers.
    schemaJson.foreach { js =>
      val out = fs.create(new org.apache.hadoop.fs.Path(tmp, SchemaSidecar))
      try out.write(js.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // The rename target's PARENT must pre-exist: on HDFS-semantics
    // stores a rename into a missing directory fails (a spurious
    // "concurrent writer" error on the first commit of a branch), and
    // RawLocalFileSystem silently degrades the failed rename to a
    // non-atomic copy — destroying the atomic-commit-point claim.
    fs.mkdirs(target.getParent)
    if (fs.exists(target)) {
      if (!replace) {
        fs.delete(tmp, true)
        throw new IllegalStateException(
          s"$what is already committed " +
            "(concurrent writer lost the race); earlier generations keep serving")
      }
      fs.delete(target, true)
    }
    if (!fs.rename(tmp, target)) {
      // rename-onto-existing fails on HDFS-semantics stores: a
      // concurrent writer published between our check and the move.
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"$what was committed concurrently; " +
          "this writer's attempt is discarded")
    }
    // POSIX-semantics stores (local FS) do NOT fail that rename — they
    // NEST the staging dir inside the existing target and return true
    // (verified behavior of RawLocalFileSystem). The winner's manifest
    // stays intact either way (parquet readers skip dot-prefixed
    // children), but the loser must still LOSE loudly: detect the
    // nesting, sweep it, and throw.
    val nested = new org.apache.hadoop.fs.Path(target, tmp.getName)
    if (fs.exists(nested)) {
      fs.delete(nested, true)
      throw new IllegalStateException(
        s"$what was committed concurrently " +
          "(rename nested into the winner's manifest); this writer's " +
          "attempt is discarded")
    }
  }

  /** The recorded-schema sidecar's file name inside a manifest
    * directory.
    */
  private val SchemaSidecar = ".schema.json"

  /** How many predecessors a commit checks for a sidecar to propagate
    * (see writeManifest) — 1 suffices under propagation; the rest of
    * the window covers short pre-sidecar-writer gaps.
    */
  private val SchemaPropagationWindow = 16

  /** The RECORDED schema of generation `gen`, if its manifest carries
    * the ALTER TABLE sidecar — raw JSON (for propagation) to avoid a
    * parse-reserialize round per commit.
    */
  private def recordedSchemaJson(spark: SparkSession, table: String,
      gen: Long): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(manifestPath(table, gen), SchemaSidecar)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** [[recordedSchemaJson]] parsed — what schema resolution consults
    * before falling back to the footer union: a column added by ALTER
    * TABLE exists in the RECORDED schema even while no data file
    * carries it yet (old rows serve NULL for it by the readers'
    * resolve-by-name contract).
    */
  def recordedSchema(spark: SparkSession, table: String,
      gen: Long): Option[org.apache.spark.sql.types.StructType] =
    recordedSchemaJson(spark, table, gen).map(js =>
      org.apache.spark.sql.types.DataType.fromJson(js)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** `ALTER TABLE ADD COLUMN`'s commit: publish `newSchema` as the
    * RECORDED schema of a new generation whose manifest carries the
    * latest generation's rows VERBATIM — a pure metadata re-point
    * (zero data files written at any table size, like [[rollback]]),
    * recorded action "alter". Later commits propagate the sidecar
    * forward automatically; history before the alter keeps resolving
    * its own (narrower) schema through time travel.
    */
  def alterSchema(spark: SparkSession, table: String,
      newSchema: org.apache.spark.sql.types.StructType): Long = {
    val gens = generations(spark, table)
    require(gens.nonEmpty, s"cannot ALTER $table: no committed generation")
    val gen = gens.max + 1
    val prev = readManifestRows(spark, manifestPath(table, gens.max))
    // A SEGMENTED base must NOT be copied verbatim: the copy would be a
    // segment whose OWN rows are the base's batch, and the streaming
    // hop planner treats a segmented hop's own rows as the ADDED set —
    // every consumer would be re-delivered that batch as duplicates.
    // The alter instead publishes a ZERO-DATA segment whose only row is
    // the parent reference: chain resolution serves the identical file
    // set, the hop adds nothing, and the sidecar rides the fresh
    // manifest.
    val rows =
      if (prev.exists(_.kind.contains(ParentKind)))
        Seq(ManifestRow(manifestPath(table, gens.max),
          kind = Some(ParentKind), seq = Some(gens.max)))
      else prev
    writeManifest(spark, table, gen, replace = false, rows,
      Some("alter"), Some(newSchema.json))
    gen
  }

  /** The DATA file list of generation `gen` — one driver-side collect
    * of a per-FILE relation (bounded by file count, never data size).
    * Tombstone entries of a merge-on-read manifest ([[commitDeletes]])
    * are excluded: they are not data and must never enter a scan.
    */
  def listFiles(spark: SparkSession, table: String, gen: Long): Seq[String] =
    manifestEntries(spark, table, gen)._1

  /** The TOMBSTONE file list of generation `gen` — empty for every
    * manifest form except merge-on-read ([[commitDeletes]]).
    */
  def listDeleteFiles(spark: SparkSession, table: String, gen: Long): Seq[String] =
    manifestEntries(spark, table, gen)._2

  /** Both halves of generation `gen`'s manifest — `(data files,
    * tombstone files)` — in ONE manifest read. Planning paths that
    * need both (the streaming source's hop planner) use this instead
    * of paying two `spark.read.parquet` + collect rounds per
    * generation.
    */
  def manifestEntries(spark: SparkSession, table: String,
      gen: Long): (Seq[String], Seq[String]) = {
    val rows = readManifestRows(spark, manifestPath(table, gen))
    // A SEGMENT manifest ([[commitSegment]]) lists only its own batch's
    // files plus a parent reference — every plain reader must refuse it
    // loudly, because silently returning the segment's own rows would
    // serve a fraction of the snapshot as if it were the whole table.
    require(!rows.exists(_.kind.contains(ParentKind)),
      s"generation $gen of $table is a SEGMENT manifest (parent-linked); " +
        "resolve it with readSegmented/resolvedFiles — a plain read " +
        "would silently see only the segment's own files")
    splitEntries(rows)
  }

  private def splitEntries(rows: Seq[ManifestRow]): (Seq[String], Seq[String]) =
    (rows.collect { case r if r.kind.forall(_ == "data") => r.path }
        .distinct.sorted,
      rows.collect { case r if r.kind.contains("delete") => r.path }
        .distinct.sorted)

  /** [[splitEntries]] of one manifest's OWN rows, parent references
    * skipped without resolution — for reference sweeps (vacuum,
    * abandon) that walk every generation anyway.
    */
  private def rawEntries(spark: SparkSession, table: String,
      gen: Long): (Seq[String], Seq[String]) =
    splitEntries(readManifestRows(spark, manifestPath(table, gen)))

  /** `kind` of a segment manifest's single parent-reference row; its
    * `path` holds the parent MANIFEST's path (absolute, so a zero-copy
    * clone of a segmented lineage keeps resolving into the source
    * table) and `seq` the parent generation number (display only).
    */
  private[sources] val ParentKind = "parent"

  /** Commit `df` as generation `gen` of an APPEND-ONLY segmented
    * lineage: the manifest lists ONLY this batch's files plus one
    * parent reference — commit cost is O(batch files) at ANY table
    * size, where the default full-row carry ([[publishAppend]])
    * rewrites an O(table files) manifest per commit. This is the
    * Iceberg manifest-list trade: per-commit manifest segments, chain
    * resolution at read ([[resolvedFiles]]). The price is read-side
    * resolution depth (O(generations) driver-side manifest reads —
    * production checkpoints the chain periodically with a full-carry
    * [[commit]], exactly like Delta's parquet checkpoints) and an
    * APPEND-ONLY contract: tombstone/upsert commits need the
    * full-carry protocol, and [[resolvedFiles]] refuses non-data rows
    * in a segment. Plain readers refuse segment manifests loudly
    * ([[manifestEntries]]' guard) instead of silently serving one
    * batch as the whole snapshot.
    */
  def commitSegment(df: DataFrame, table: String, gen: Long,
      parent: Option[Long], action: String = "append"): Unit = {
    val spark = df.sparkSession
    val genDir = s"$table/data/gen=$gen"
    val dataDir = s"$genDir/a=${attemptName()}"
    df.write.mode("overwrite").parquet(dataDir)
    val fresh = freshFiles(spark, dataDir)
    writeManifest(spark, table, gen, replace = false,
      metaRows(spark, fresh) ++
        parent.map(pg => ManifestRow(manifestPath(table, pg),
          kind = Some(ParentKind), seq = Some(pg))),
      Some(action))
  }

  /** The DATA file set of segmented generation `gen`, resolved by
    * walking the parent chain — O(chain length) driver-side manifest
    * reads, each O(its batch). Also accepts a plain full-carry
    * manifest (a chain that starts from, or was checkpointed by, a
    * [[commit]]), so segmented and full-carry commits interleave. A
    * missing parent manifest (expired mid-chain) fails LOUDLY — the
    * connector's expired-prefix rule — and any tombstone row in a
    * segment is a contract violation, not data to misread.
    */
  def resolvedFiles(spark: SparkSession, table: String, gen: Long): Seq[String] =
    resolvedDataRows(spark, table, gen).map(_._1)

  /** The chain-resolved DATA rows of segmented generation `gen` — one
    * `(path, recorded rows, recorded bytes)` per distinct path,
    * sorted. Every commit in a segmented lineage records stats for its
    * OWN batch, so folding them during the same chain walk that
    * resolves the file set is what lets scan-planning statistics and
    * the `files` metadata relation serve segmented lineages
    * MANIFEST-ONLY — the O(files) per-file driver I/O the layout's
    * O(batch) commits were built to avoid would otherwise reappear at
    * planning time.
    */
  private[graft] def resolvedDataRows(spark: SparkSession, table: String,
      gen: Long): Seq[(String, Option[Long], Option[Long])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ManifestRow]
    var cur = manifestPath(table, gen)
    var hops = 0
    while (cur != null) {
      val rows =
        try readManifestRows(spark, cur)
        catch {
          case e: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"segment chain of $table gen $gen is broken at $cur " +
                "(parent manifest expired?) — the snapshot is no longer " +
                "resolvable; re-seed or restore from a full-carry commit", e)
        }
      require(rows.forall(r => r.kind.isEmpty || r.kind.contains("data") ||
          r.kind.contains(ParentKind)),
        s"manifest $cur holds non-data rows (${rows.flatMap(_.kind).distinct
          .filterNot(_ == ParentKind).mkString(", ")}) — segmented " +
          "lineages are APPEND-ONLY; tombstones/upserts use the " +
          "full-carry protocol")
      out ++= rows.filter(_.kind.forall(_ == "data"))
      val parents = rows.filter(_.kind.contains(ParentKind))
      require(parents.size <= 1,
        s"manifest $cur carries ${parents.size} parent references")
      cur = parents.headOption.map(_.path).orNull
      hops += 1
      require(hops <= 100000, s"segment chain of $table gen $gen exceeds " +
        "100000 hops — cyclic parent references?")
    }
    // Distinct by path (the long zone-map form repeats paths, and a
    // checkpointed chain can re-list an ancestor's file): any row
    // carrying the recorded meta serves it.
    out.groupBy(_.path).map { case (p, rs) =>
      (p, rs.flatMap(_.nRows).headOption, rs.flatMap(_.bytes).headOption)
    }.toSeq.sortBy(_._1)
  }

  /** [[recordedFileStats]] for a SEGMENTED generation: the chain walk
    * above, as the path → `(n_rows, bytes)` map scan planning reads.
    */
  private[graft] def resolvedFileStats(spark: SparkSession, table: String,
      gen: Long): Map[String, (Option[Long], Option[Long])] =
    resolvedDataRows(spark, table, gen)
      .map(r => r._1 -> ((r._2, r._3))).toMap

  /** THE recorded-stats resolution policy, shared by scan statistics
    * and the COUNT(*) pushdown so the two can never diverge: a
    * full-carry generation serves from ONE manifest read, a segmented
    * one from the chain-folding walk. `(None, None)` entries mark
    * legacy rows; every consumer decides its own fallback.
    */
  private[graft] def statsFor(spark: SparkSession, table: String, gen: Long,
      segmented: Boolean): Map[String, (Option[Long], Option[Long])] =
    if (segmented) resolvedFileStats(spark, table, gen)
    else recordedFileStats(spark, table, gen)

  /** Read segmented generation `gen` AS OF its chain-resolved file
    * set — time travel and snapshot isolation exactly as [[readAs]],
    * at O(new files) commit cost.
    */
  def readSegmented(spark: SparkSession, table: String, gen: Long): DataFrame =
    spark.read.parquet(resolvedFiles(spark, table, gen): _*)

  /** Row count of one generation's OWN manifest (the O(batch)-commit
    * evidence the segments query value-gates).
    */
  private[sources] def manifestRowCount(spark: SparkSession, table: String,
      gen: Long): Long =
    readManifestRows(spark, manifestPath(table, gen)).size.toLong

  /** The TAIL planner's view of one generation: `(data, deletes,
    * segmented)`. For a SEGMENT manifest, `data` is the segment's OWN
    * batch — which IS the hop's added set, so the connector plans a
    * segmented hop from one manifest read with NO parent diff at all
    * (the cheapest possible incremental-tail plan, and the reason
    * segmented lineages and streaming consumption compose so well).
    * Unlike [[manifestEntries]] this does not refuse segments: the
    * caller receives the flag and owns the semantics.
    */
  def tailEntries(spark: SparkSession, table: String,
      gen: Long): (Seq[String], Seq[String], Boolean) = {
    val rows = readManifestRows(spark, manifestPath(table, gen))
    val (d, t) = splitEntries(rows)
    (d, t, rows.exists(_.kind.contains(ParentKind)))
  }

  /** Guard for generation-per-epoch streaming sinks: epoch-derived
    * generation `gen` may only be the LATEST generation (a same-epoch
    * replay) or the next one (a fresh batch) — anything else means the
    * query's checkpoint is not aligned with this table's history (e.g.
    * a NEW checkpoint pointed at a table with existing generations),
    * and committing with replace would silently destroy committed
    * lineage.
    */
  def requireEpochAligned(spark: SparkSession, table: String, gen: Long): Unit = {
    val gens = generations(spark, table)
    val ok = (gens.isEmpty && gen == 1L) ||
      (gens.nonEmpty && (gen == gens.max || gen == gens.max + 1))
    if (!ok) throw new IllegalStateException(
      s"streaming epoch would commit generation $gen of $table, but the " +
        s"table's generations are [${gens.mkString(", ")}] - the query's " +
        "checkpoint is not aligned with this table's history (a fresh " +
        "checkpoint against a non-empty table?); refusing to overwrite " +
        "committed lineage")
  }

  /** MERGE-ON-READ delete commit: `keys` (a one-column frame of the
    * key values to delete) lands as a TOMBSTONE parquet under a
    * generation-private directory, and the manifest carries the parent
    * generation's data files VERBATIM plus the tombstones (parent
    * tombstones carried too — deletes accumulate until a
    * materialization purges them). No data file is rewritten: a delete
    * costs O(tombstone), not a table rewrite — the other half of the
    * COW-vs-MoR trade next to [[SourceOps.snapshotMerge]]'s
    * copy-on-write. Readers pay for it instead: [[readMor]] anti-joins
    * the tombstone keys on every scan until a fresh [[commit]] of the
    * materialized view purges them.
    */
  def commitDeletes(keys: DataFrame, table: String, gen: Long,
      carryFrom: Long): Unit = {
    val spark = keys.sparkSession
    val delDir = s"$table/deletes/gen=$gen/a=${attemptName()}"
    keys.write.mode("overwrite").parquet(delDir)
    val fresh = freshFiles(spark, delDir)
    // Full-row carry; the fresh tombstones stay UNSTAMPED — the legacy
    // whole-snapshot delete scope (vs [[commitUpsert]]'s seq-scoped
    // ones).
    val carried = readManifestRows(spark, manifestPath(table, carryFrom))
      .map(r => r.copy(kind = r.kind.orElse(Some("data"))))
    writeManifest(spark, table, gen, replace = false,
      (carried ++ metaRows(spark, fresh, kind = Some("delete")))
        .sortBy(r => (r.kind.get, r.path)), Some("delete"))
  }

  /** MERGE/UPSERT as ONE merge-on-read commit — the Iceberg
    * equality-delete + data-sequence-number shape: the batch's rows
    * land as fresh data files stamped `seq = gen`, and the batch's
    * KEYS land as one equality-delete file with the same stamp. A
    * stamped tombstone hides only data with a STRICTLY SMALLER
    * sequence, so in one commit each key's old row disappears and its
    * new row survives — and a LATER append under the same key outranks
    * the tombstone and stays visible too. Cost is O(batch) + O(keys)
    * at any table size: no base file is read or rewritten (the
    * copy-on-write alternative is [[SourceOps.snapshotMerge]]), and
    * readers pay [[readMor]]'s per-sequence-class anti-join until a
    * materialization purges.
    */
  def commitUpsert(df: DataFrame, table: String, gen: Long,
      keyCol: String, carryFrom: Long, replace: Boolean = false): Unit = {
    val spark = df.sparkSession
    val genDir = s"$table/data/gen=$gen"
    val delGenDir = s"$table/deletes/gen=$gen"
    val attempt = attemptName()
    val dataDir = s"$genDir/a=$attempt"
    df.write.mode("overwrite").parquet(dataDir)
    val freshData = freshFiles(spark, dataDir)
    val delDir = s"$delGenDir/a=$attempt"
    // The tombstone keys project from the data files JUST WRITTEN, not
    // from `df` again: `df`'s lineage embeds the batch's whole upstream
    // (source scan + dedupe shuffle in the CDC-apply sink), which a
    // second action would re-run per commit. Parquet round-trips the
    // key column exactly, so the written rows ARE the batch — same key
    // set, and the distinct() keeps the key-uniqueness guard below
    // honest (keyRows counts DISTINCT keys, not batch rows).
    spark.read.schema(mergedFooterSchema(spark, freshData))
      .parquet(freshData: _*)
      .select(col(keyCol)).distinct().coalesce(1)
      .write.mode("overwrite").parquet(delDir)
    val freshDels = freshFiles(spark, delDir)
    // Latest-row-per-key only holds if the batch itself is one row per
    // key: every batch row lands stamped seq=gen and the tombstone
    // hides only STRICTLY SMALLER seqs, so two same-key rows in one
    // batch would both survive forever. Refuse before publishing —
    // footer row counts are driver-side metadata (no Spark job): batch
    // rows == distinct keys iff the batch is key-unique.
    val dataMeta = metaRows(spark, freshData, kind = Some("data"),
      seq = Some(gen))
    val delMeta = metaRows(spark, freshDels, kind = Some("delete"),
      seq = Some(gen))
    // metaRows is best-effort for foreign paths, but THESE files were
    // written by this very commit: a missing footer count here is
    // corruption, and letting it slip would silently void the
    // key-uniqueness guard below (sums over None-dropped rows).
    require((dataMeta ++ delMeta).forall(_.nRows.isDefined),
      s"commitUpsert for $table gen=$gen staged a file with an unreadable " +
        "footer; refusing to publish")
    val batchRows = dataMeta.flatMap(_.nRows).sum
    val keyRows = delMeta.flatMap(_.nRows).sum
    require(batchRows == keyRows,
      s"commitUpsert batch for $table gen=$gen has duplicate keys " +
        s"($batchRows row(s) over $keyRows distinct '$keyCol'): same-key " +
        "rows in one commit would BOTH survive its seq-scoped tombstone " +
        "and the table would never converge to latest-row-per-key - " +
        "reduce the batch to one row per key first (the streaming " +
        "CDC-apply sink's orderCol dedupe does this)")
    val carried = readManifestRows(spark, manifestPath(table, carryFrom))
      .map(r => r.copy(kind = r.kind.orElse(Some("data"))))
    writeManifest(spark, table, gen, replace,
      (carried ++ dataMeta ++ delMeta)
        .sortBy(r => (r.kind.get, r.path)), Some("upsert"))
    // Same-id replay (the streaming CDC-apply sink): earlier attempts
    // of THIS generation are unreferenced once the manifest republish
    // lands — same single-writer/quiesced-reader window as [[commit]].
    if (replace) {
      sweepOtherAttempts(spark, genDir, attempt)
      sweepOtherAttempts(spark, delGenDir, attempt)
    }
  }

  /** Delete every `a=*` attempt directory under `genDir` except
    * `attempt` — the post-republish cleanup shared by [[commit]] and
    * [[commitUpsert]]'s replay paths.
    */
  private def sweepOtherAttempts(spark: SparkSession, genDir: String,
      attempt: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val gp = new org.apache.hadoop.fs.Path(genDir)
    val fs = gp.getFileSystem(conf)
    if (fs.exists(gp))
      fs.listStatus(gp).map(_.getPath)
        .filter(p => p.getName.startsWith("a=") && p.getName != s"a=$attempt")
        .foreach(p => fs.delete(p, true))
  }

  /** Read generation `gen` with its merge-on-read tombstones applied:
    * the data scan is exactly the manifest's data files, and the
    * accumulated delete keys anti-join on `keyCol`. For a generation
    * with no tombstones this IS [[readAs]] (no join in the plan).
    */
  def readMor(spark: SparkSession, table: String, gen: Long,
      keyCol: String): DataFrame = {
    val rows = readManifestRows(spark, manifestPath(table, gen))
    val dataRows = rows.filter(_.kind.forall(_ == "data"))
    val delRows = rows.filter(_.kind.contains("delete"))
    if (delRows.isEmpty) readAs(spark, table, gen)
    else {
      // Sequence-scoped visibility: an unstamped tombstone
      // ([[commitDeletes]]) applies to every data file; a stamped one
      // ([[commitUpsert]]) only to data with a strictly smaller
      // sequence. Data files group into ≤ #commits-since-materialize
      // sequence classes; each class scans its own files once and
      // anti-joins the tombstone keys that outrank it — bounded
      // per-class plans, one union, no data rewrite.
      dataRows.groupBy(_.seq.getOrElse(0L)).toSeq.sortBy(_._1).map {
        case (s, rs) =>
          val applicable = delRows
            .filter(d => d.seq.forall(_ > s)).map(_.path).distinct.sorted
          // mergeSchema per class + by-name union with missing columns
          // allowed: a seq-scoped lineage can EVOLVE (an upsert batch
          // or a later append adds a column), so neither the files of
          // one class nor the classes themselves are guaranteed to
          // share a schema — absent columns read back as NULL, the
          // same contract as [[readAsMerged]] and the connector.
          val clsFiles = rs.map(_.path).distinct.sorted
          val data = spark.read
            .schema(mergedFooterSchema(spark, clsFiles))
            .parquet(clsFiles: _*)
          if (applicable.isEmpty) data
          else data.join(
            spark.read.parquet(applicable: _*)
              .select(org.apache.spark.sql.functions.col(keyCol)).distinct(),
            Seq(keyCol), "left_anti")
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Read the table AS OF generation `gen`: the scan's file set is
    * exactly the manifest's list, so snapshot isolation and
    * time travel hold by construction — later generations' files are
    * invisible because they were never handed to the reader.
    */
  def readAs(spark: SparkSession, table: String, gen: Long): DataFrame = {
    val files = listFiles(spark, table, gen)
    // Schema from the first file's cached footer (the plain-read
    // contract: homogeneous lineages; evolved ones use readAsMerged)
    // instead of re-inferring per call.
    if (files.isEmpty) spark.read.parquet(files: _*)
    else spark.read.schema(mergedFooterSchema(spark, files.take(1)))
      .parquet(files: _*)
  }

  /** [[readAs]] for a generation whose files carry EVOLVED schemas:
    * `mergeSchema` unions every file footer's fields (metadata reads,
    * no data pages — O(files) planning like everything else here), and
    * files lacking a later-added column serve NULL for it. Kept
    * separate from [[readAs]] because homogeneous tables shouldn't pay
    * the per-file footer pass; production tracks the merged schema in
    * the catalog and hands it to the scan directly.
    */
  def readAsMerged(spark: SparkSession, table: String, gen: Long): DataFrame = {
    val files = listFiles(spark, table, gen)
    spark.read.schema(mergedFooterSchema(spark, files)).parquet(files: _*)
  }

  /** The manifest diff between two generations: `(added, removed)`
    * file lists, each sorted. Because an append commit carries the
    * parent's files VERBATIM ([[commit]]'s `carryFrom`), the added
    * set of an append hop is exactly the batch's files — an
    * incremental consumer reads new data at a cost proportional to
    * the change, never the table (the Delta CDF / Iceberg
    * incremental-scan contract). A compaction hop reports a full
    * rewrite (every old file removed, the compacted files added),
    * which is the honest file-level answer; content-level neutrality
    * is the consumer's check (net deltas — see
    * [[SourceOps.snapshotChanges]]). Driver work is two manifest
    * reads, bounded by file counts.
    */
  def changedFiles(spark: SparkSession, table: String,
      fromGen: Long, toGen: Long): (Seq[String], Seq[String]) = {
    val from = listFiles(spark, table, fromGen).toSet
    val to = listFiles(spark, table, toGen).toSet
    ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
  }

  /** RESTORE: roll the table back to `toGen`'s content AS A NEW COMMIT
    * (the Delta `RESTORE` / Iceberg rollback contract). The new
    * generation's manifest carries `toGen`'s entries VERBATIM — data
    * files and any merge-on-read tombstones — so a rollback writes ZERO
    * data files at any table size; it is a manifest re-point, O(files)
    * driver work. History is preserved, not rewritten: the bad
    * generations between `toGen` and `asGen` keep time-traveling (an
    * audit can still read what the bad batch contained), and the
    * retention sweep reclaims their files later like any other expired
    * snapshot. Goes through the same first-writer-wins publish as every
    * commit — a writer racing the rollback to `asGen` loses loudly.
    */
  def rollback(spark: SparkSession, table: String,
      toGen: Long, asGen: Long): Unit = {
    val gens = generations(spark, table)
    // contains (not <=): an EXPIRED generation is gone — restoring it
    // must fail with the guard's message, not a deep parquet
    // path-not-found; and an empty table has nothing to restore.
    require(gens.nonEmpty && gens.contains(toGen) && asGen > gens.max,
      s"rollback of $table must restore an existing generation " +
        s"($toGen vs [${gens.mkString(", ")}]) as a NEW one ($asGen): " +
        "rolling back onto committed lineage would rewrite history")
    writeManifest(spark, table, asGen, replace = false,
      readManifestRows(spark, manifestPath(table, toGen)), Some("rollback"))
  }

  /** SHALLOW CLONE: materialize `srcGen` of `srcTable` as generation 1
    * of a NEW table whose manifest references the source's files BY
    * PATH — zero data copied, O(files) driver work at any table size
    * (the Delta `CREATE TABLE ... SHALLOW CLONE` contract). The clone
    * then evolves independently: its appends/compactions/rollbacks
    * write under its own directory and never touch the source — the
    * dev/test-against-production-data pattern. The one cross-table
    * contract (Delta's documented caveat too): the source must not
    * [[expire]] the referenced generation out from under a live
    * shallow clone — the clone references, it does not own. A clone
    * of a merge-on-read generation carries its tombstones, so the
    * cloned view hides exactly what the source hid.
    */
  def cloneShallow(spark: SparkSession, srcTable: String, srcGen: Long,
      destTable: String): Unit = {
    require(generations(spark, destTable).isEmpty,
      s"shallow clone target $destTable already has committed " +
        "generations; clone only creates NEW tables")
    // The source snapshot's RECORDED SCHEMA travels with the clone:
    // sidecar propagation walks the DEST lineage (empty here), so
    // without the explicit pass a clone of a post-ALTER generation
    // would silently lose every column no data file carries yet.
    writeManifest(spark, destTable, 1L, replace = false,
      readManifestRows(spark, manifestPath(srcTable, srcGen)), Some("clone"),
      recordedSchemaJson(spark, srcTable, srcGen))
  }

  // ----- Write-audit-publish branch staging ------------------------------

  private def branchManifestPath(table: String, branch: String): String =
    s"$table/branches/$branch/manifest"

  /** WRITE half of write-audit-publish: land `df`'s files in the
    * table's data layout and publish them under a named BRANCH manifest
    * — addressable for auditing, INVISIBLE to every generation read
    * (the generation lineage never references a branch). Staging goes
    * through the same staged-rename commit as a generation, so two
    * writers racing to one branch are first-writer-wins. The staged
    * snapshot then either [[publishStaged]]es into the lineage (zero
    * data rewrite — the files are already in place) or
    * [[abandonStaged]]s (manifest and files deleted; the lineage never
    * knew them). This is the Iceberg WAP / Delta shallow-branch
    * pattern: audits gate data BEFORE readers can see it, without a
    * quarantine copy of the batch.
    */
  def stage(df: DataFrame, table: String, branch: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val dataDir = s"$table/data/branch=$branch/a=${attemptName()}"
    df.write.mode("overwrite").parquet(dataDir)
    // An all-empty-partition write leaves no part files; the listing
    // returns empty — an empty staged batch is legal (it audits as
    // empty and abandons).
    val fresh = freshFiles(spark, dataDir)
    stageFiles(spark, table, branch, fresh)
  }

  /** The MANIFEST half of [[stage]], shared with writers that staged
    * their own files (the SQL `INSERT INTO <table>.branch_<name>`
    * path): publish `files` as the branch's staged snapshot under the
    * same first-writer-wins commit.
    */
  def stageFiles(spark: SparkSession, table: String, branch: String,
      files: Seq[String]): Unit =
    writeManifestAt(spark,
      branchManifestPath(table, branch),
      s"$table/branches/.${branch}.staging.${attemptName()}",
      replace = false, metaRows(spark, files),
      what = s"branch '$branch' of $table")

  /** The staged branch's file list (audit planning, [[publishStaged]]). */
  def stagedFiles(spark: SparkSession, table: String, branch: String): Seq[String] =
    readManifestRows(spark, branchManifestPath(table, branch))
      .map(_.path).sorted

  /** The staged branch's per-file `(path, recorded rows, recorded
    * bytes)` — the `branches` metadata relation's source, one manifest
    * read.
    */
  private[graft] def stagedFileStats(spark: SparkSession, table: String,
      branch: String): Seq[(String, Option[Long], Option[Long])] =
    readManifestRows(spark, branchManifestPath(table, branch))
      .map(r => (r.path, r.nRows, r.bytes)).sortBy(_._1)

  /** AUDIT half: read the staged snapshot through its branch manifest —
    * exactly like a generation read, but over data no lineage reader
    * can see yet.
    */
  def readStaged(spark: SparkSession, table: String, branch: String): DataFrame =
    spark.read.parquet(stagedFiles(spark, table, branch): _*)

  /** PUBLISH half: fast-forward the audited branch into the generation
    * lineage as `gen` — the staged files enter the manifest BY
    * REFERENCE (carrying `carryFrom`'s history like any append), and
    * the branch pointer is retired. No data moves: publish after a
    * green audit is a manifest write, O(files) at any batch size.
    */
  def publishStaged(spark: SparkSession, table: String, branch: String,
      gen: Long, carryFrom: Option[Long]): Unit = {
    // The branch manifest's rows enter the lineage VERBATIM (recorded
    // stats included) — a path-only publish would pay a second
    // O(files) footer pass for stats the staging commit already wrote.
    val freshRows = readManifestRows(spark, branchManifestPath(table, branch))
    publishAppendRows(spark, table, gen, freshRows, carryFrom)
    // The lineage owns the files now; only the branch POINTER retires.
    val m = new org.apache.hadoop.fs.Path(branchManifestPath(table, branch))
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(m, true)
  }

  /** REJECT half: a failed audit abandons the branch — manifest first
    * (nothing can resolve the files once the pointer is gone), then the
    * staged files themselves. Files the generation lineage ALSO
    * references are never deleted: if [[publishStaged]] crashed between
    * its publish and its branch-pointer delete, the stuck branch lists
    * lineage-owned files — abandoning it then must only retire the
    * pointer, or every reader of the published generation would break.
    */
  def abandonStaged(spark: SparkSession, table: String, branch: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = stagedFiles(spark, table, branch)
    val owned = generations(spark, table).flatMap { g =>
      // Raw per-manifest rows, NOT chain resolution: a reference sweep
      // wants each generation's OWN entries (segment manifests list
      // exactly their batch; the union over all generations covers the
      // chain), and the plain reader's segmented-manifest guard must
      // not fire here.
      val (d, t) = rawEntries(spark, table, g)
      d ++ t
    }.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    val m = new org.apache.hadoop.fs.Path(branchManifestPath(table, branch))
    m.getFileSystem(conf).delete(m, true)
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (!owned.contains(p.toUri.getPath))
        p.getFileSystem(conf).delete(p, false)
    }
  }

  /** Per-file min/max of a BIGINT column, read from the parquet
    * FOOTERS — no data pages touched (the [[SourceOps.compactTo]]
    * footer-read pattern). This is the zone-map every columnar writer
    * already produced for free; recording it in the manifest is what
    * turns the manifest into a data-skipping index.
    */
  def footerKeyStats(spark: SparkSession, paths: Seq[String],
      column: String): Seq[(String, Long, Long)] =
    footerStats(spark, paths, Seq(column)).map { case (f, _, mn, mx) => (f, mn, mx) }

  /** Per-file min/max of SEVERAL BIGINT columns in one footer pass —
    * one `(path, column, min, max)` row per (file, column). The
    * multi-column generalization [[publishStats]] records, giving the
    * manifest a zone map per dimension (a Z-ORDERed layout makes every
    * recorded dimension's per-file bounds tight at once).
    */
  /** Order-preserving parallel map for the per-file footer reads the
    * commit/analyze paths run on the driver: each read is a short
    * blocking metadata I/O (~5-15 ms open + footer parse), and the
    * sequential loop made every commit O(files) × that latency — the
    * exact driver bottleneck guide §5 warns about. Common-pool
    * parallelism keeps wall time ~files/threads while the work stays
    * metadata-plane (footers only, never data pages).
    */
  /** Dedicated bounded pool for [[parFiles]]: blocking footer I/O on
    * the JVM COMMON ForkJoinPool would starve every other common-pool
    * user in the driver behind a slow filesystem. Daemon threads, so
    * an exiting JVM never waits on it.
    */
  private lazy val footerPool = {
    val n = math.min(16, Runtime.getRuntime.availableProcessors())
    java.util.concurrent.Executors.newFixedThreadPool(n, r => {
      val t = new Thread(r, "graft-footer-io")
      t.setDaemon(true)
      t
    })
  }

  private def parFiles[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      import scala.jdk.CollectionConverters._
      // Order-preserving: futures submit in xs order and join in order.
      // Exceptions from f rethrow as the ORIGINAL exception type (the
      // ExecutionException unwraps), preserving the sequential loop's
      // error contract for callers that match on exception class.
      val futures = xs.map(a => footerPool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }))
      try futures.map(_.get()).toSeq
      catch {
        case e: java.util.concurrent.ExecutionException =>
          futures.foreach(_.cancel(false))
          throw e.getCause
      }
    }

  def footerStats(spark: SparkSession, paths: Seq[String],
      columns: Seq[String]): Seq[(String, String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parFiles(paths) { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        import scala.jdk.CollectionConverters._
        val blocks = r.getFooter.getBlocks.asScala
        // Zero-row files (a slice writer can legitimately emit a
        // schema-only part file for an empty key range) carry no row
        // groups and therefore no statistics: they are DROPPED, not an
        // error — an empty file can never match a range query, so a
        // stats manifest that omits it prunes it for free.
        if (blocks.isEmpty) Seq.empty
        else columns.map { column =>
          val stats = blocks.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == column)
              .getOrElse(sys.error(s"no column $column in footer of $f"))
              .getStatistics
          }
          require(stats.forall(s => s.hasNonNullValue),
            s"footer of $f carries no $column statistics")
          // INT64 and INT32 physical columns both record: BIGINT stats
          // arrive as Long, INT/DATE (and narrow-decimal) as Integer —
          // the zone-map domain is the physical long either way.
          def asLong(x: Any): Long = x match {
            case l: java.lang.Long => l.longValue
            case i: java.lang.Integer => i.longValue
            case other => sys.error(
              s"column $column of $f has non-integer statistics " +
                s"(${other.getClass.getSimpleName}); zone maps record " +
                "integer-physical columns only")
          }
          (f, column,
            stats.map(s => asLong(s.genericGetMin)).min,
            stats.map(s => asLong(s.genericGetMax)).max)
        }
      } finally r.close()
    }.flatten
  }

  /** Per-file ROW COUNTS from the parquet footers — the third
    * metadata-only statistic next to [[footerStats]]' min/max: every
    * block header already carries its row count, so a table's size
    * per snapshot is O(files) metadata reads, never a data scan
    * (what DESCRIBE HISTORY / a `files` metadata table serves).
    */
  def footerRowCounts(spark: SparkSession, paths: Seq[String]): Seq[(String, Long)] =
    fileMeta(spark, paths).map(m => (m._1, m._2))

  /** Per-file `(footer row count, on-disk bytes)` — ONE footer open per
    * file (the input-file handle already carries the size from its
    * status lookup). This is what every COMMIT stamps into its fresh
    * manifest rows, so read-side consumers (scan statistics, the
    * `files` metadata table) answer from the manifest alone at any
    * file count.
    */
  def fileMeta(spark: SparkSession,
      paths: Seq[String]): Seq[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parFiles(paths) { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try (f, r.getRecordCount, in.getLength) finally r.close()
    }
  }

  /** Best-effort [[fileMeta]] for the explicit-row publish forms:
    * callers hand zone-map rows whose paths the layer never wrote (a
    * spec's synthetic layout, a foreign file registered by stats), so
    * an unopenable path records NO meta rather than failing the
    * publish — the consumers all fall back per file.
    */
  private def fileMetaOpt(spark: SparkSession,
      paths: Seq[String]): Map[String, (Long, Long)] =
    parFiles(paths) { f =>
      try fileMeta(spark, Seq(f)).map(m => m._1 -> ((m._2, m._3)))
      catch { case _: Exception => Seq.empty }
    }.flatten.toMap

  /** [[fileMeta]] as ready-to-publish manifest rows (sorted by path) —
    * BEST-EFFORT like [[fileMetaOpt]]: the explicit-path publish forms
    * ([[publish]], [[stageFiles]], [[commitDeletes]]) accept paths this
    * layer never wrote (a spec's synthetic layout, a foreign file
    * registered by stats), so an unopenable footer records NO stats
    * instead of failing the commit — every stats consumer already
    * falls back per file on `None`.
    */
  private def metaRows(spark: SparkSession, paths: Seq[String],
      kind: Option[String] = None, seq: Option[Long] = None,
      selfWritten: Boolean = false): Seq[ManifestRow] = {
    val meta = fileMetaOpt(spark, paths)
    // SELF-WRITTEN publishes (the connector's own commit/append/rewrite
    // paths — this layer just closed those footers) REQUIRE the stats:
    // a transient footer-read failure silently publishing stat-less
    // rows would quietly disable count pushdown and manifest-served
    // planning statistics for the generation. Foreign/explicit-path
    // publishes keep the best-effort contract.
    if (selfWritten) {
      val missing = paths.filterNot(meta.contains)
      require(missing.isEmpty,
        s"self-written publish could not read footer stats of " +
          s"${missing.take(3).mkString(", ")}${if (missing.size > 3) ", ..." else ""} - " +
          "refusing to commit a stat-less generation (retry the commit)")
    }
    paths.sorted.map { p =>
      ManifestRow(p, kind = kind, seq = seq,
        nRows = meta.get(p).map(_._1), bytes = meta.get(p).map(_._2))
    }
  }

  /** The recorded `(n_rows, bytes)` of generation `gen`'s manifest
    * rows, keyed by path — `(None, None)` entries for legacy rows, so
    * a consumer can decide per file whether the manifest alone
    * answers. DATA rows only (tombstones are not scan content).
    */
  private[graft] def recordedFileStats(spark: SparkSession, table: String,
      gen: Long): Map[String, (Option[Long], Option[Long])] =
    fileInventory(spark, table, gen)
      .collect { case (p, "data", n, b) => p -> ((n, b)) }.toMap

  /** Generation `gen`'s full file inventory straight off ONE manifest
    * read: `(path, kind, recorded rows, recorded bytes)` — what the
    * `files` metadata table serves without per-file I/O on a
    * stats-recording lineage. Parent references excluded (they are
    * manifests, not content); the long zone-map form's repeated paths
    * collapse to one row each.
    */
  private[graft] def fileInventory(spark: SparkSession, table: String,
      gen: Long): Seq[(String, String, Option[Long], Option[Long])] =
    readManifestRows(spark, manifestPath(table, gen))
      .filterNot(_.kind.contains(ParentKind))
      .groupBy(r => (r.path, r.kind.getOrElse("data")))
      .map { case ((p, k), rs) =>
        // The long zone-map form repeats a path once per recorded
        // column; any row carrying the meta serves it.
        (p, k, rs.flatMap(_.nRows).headOption, rs.flatMap(_.bytes).headOption)
      }.toSeq.sortBy(r => (r._2, r._1))

  /** Publish generation `gen` with per-file zone-map stats:
    * manifest rows are (path, min_key, max_key). [[listFiles]] /
    * [[readAs]] keep working (they project `path` only);
    * [[readWhere]] prunes by the stats.
    */
  def publishWithStats(spark: SparkSession, table: String, gen: Long,
      rows: Seq[(String, Long, Long)],
      action: String = "append"): Unit = {
    val meta = fileMetaOpt(spark, rows.map(_._1).distinct.sorted)
    writeManifest(spark, table, gen, replace = false,
      rows.sortBy(_._1).map { case (p, mn, mx) =>
        ManifestRow(p, minKey = Some(mn), maxKey = Some(mx),
          nRows = meta.get(p).map(_._1), bytes = meta.get(p).map(_._2)) },
      Some(action))
  }

  /** Publish generation `gen` with MULTI-COLUMN zone maps: manifest
    * rows are (path, key_col, min_key, max_key) — one row per (file,
    * recorded column), the long form of [[footerStats]]'s output — so
    * [[readWhere]] can prune on ANY recorded dimension of the same
    * manifest (the `layout_zorder` story at the manifest layer: a
    * Z-ORDERed file layout keeps every dimension's per-file bounds
    * tight, and this manifest is what turns those bounds into file
    * skipping). [[listFiles]] / [[readAs]] keep working (they project
    * DISTINCT paths).
    */
  def publishStats(spark: SparkSession, table: String, gen: Long,
      rows: Seq[(String, String, Long, Long)],
      action: String = "append"): Unit = {
    val meta = fileMetaOpt(spark, rows.map(_._1).distinct.sorted)
    // Per-(file, column) NULL counts off the same footers — what makes
    // a zone row's non-null row count derivable (nRows − nNulls): the
    // sound "rows provably sorting before this file" proof the TopN
    // pushdown needs under NULLS LAST orderings. Best-effort like the
    // meta pass (an unreadable footer or unset statistic records None
    // and the file neither proves nor excludes).
    val nulls = footerNullCounts(spark, rows.map(r => (r._1, r._2)).distinct)
    writeManifest(spark, table, gen, replace = false,
      rows.sortBy(r => (r._1, r._2)).map { case (p, c, mn, mx) =>
        ManifestRow(p, keyCol = Some(c), minKey = Some(mn), maxKey = Some(mx),
          nRows = meta.get(p).map(_._1), bytes = meta.get(p).map(_._2),
          nNulls = nulls.getOrElse((p, c), None)) },
      Some(action))
  }

  /** NULL counts per `(file, column)` from the parquet footers — one
    * footer open per file, summed across row groups; `None` when any
    * block leaves the statistic unset (legacy writers) or the footer
    * is unreadable.
    */
  private def footerNullCounts(spark: SparkSession,
      pairs: Seq[(String, String)]): Map[(String, String), Option[Long]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    parFiles(pairs.groupBy(_._1).toSeq) { case (f, ps) =>
      val cols = ps.map(_._2).distinct
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = r.getFooter.getBlocks.asScala
          cols.map { c =>
            val per = blocks.map(_.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .map(_.getStatistics)
              .filter(s => s != null && s.isNumNullsSet)
              .map(_.getNumNulls))
            (f, c) -> (if (per.nonEmpty && per.forall(_.isDefined))
              Some(per.flatten.sum) else None)
          }
        } finally r.close()
      } catch {
        case _: Exception => cols.map(c => (f, c) -> Option.empty[Long])
      }
    }.flatten.toMap
  }

  /** Files of generation `gen` admitted by CONJUNCTIVE per-column
    * bounds against the manifest's zone maps — the [[readWhere]]
    * pruning rule generalized to several dimensions at once (the
    * connector's filter-pushdown hook). A plain path-only manifest
    * admits everything; a column with no recorded stats row for some
    * file admits that file conservatively. Unlike [[readWhere]] this
    * does NOT refuse unrecorded columns — the caller pushes whatever
    * predicates the query has, and pruning is best-effort (the
    * residual row filter keeps correctness).
    */
  def admittedFiles(spark: SparkSession, table: String, gen: Long,
      bounds: Map[String, (Long, Long)]): Seq[String] = {
    val rows = readManifestRows(spark, manifestPath(table, gen))
    if (rows.forall(_.keyCol.isEmpty) || bounds.isEmpty)
      rows.collect { case r if r.kind.forall(_ == "data") => r.path }
        .distinct.sorted
    else {
      val excluded = rows.collect {
        case ManifestRow(p, _, Some(c), Some(mn), Some(mx), _, _, _, _)
            if bounds.get(c).exists { case (lo, hi) => mn > hi || mx < lo } => p
      }.toSet
      // Data rows only: a stats lineage that later gains equality-delete
      // tombstones must never hand a delete-key file to the reader as
      // data (matches the plain branch and readWhere's multi-column arm).
      rows.collect { case r if r.kind.forall(_ == "data") => r.path }
        .distinct.filterNot(excluded).sorted
    }
  }

  /** File-level bloom-index geometry — per-file filter size in BITS,
    * probe count, and the hash-family salt prefix, shared by every
    * sidecar so the connector's planner, the SQL drills and their
    * DuckDB oracles ride ONE hash family (the oracles recompute the
    * bit sets relationally from these constants). Words pack 32 bits
    * per BIGINT so every shift stays ≤ 31 — the DuckDB-checked-shift-
    * safe packing. 16384 bits ≈ 2 KB/file suits the gate scale's ~2k
    * distinct keys per file (kn/m ≈ 0.35 → ~2.6% false positives);
    * production sizes bits from the writer's distinct-count stat,
    * exactly like Parquet's own column bloom filters.
    */
  val BloomBits = 16384L
  val BloomProbes = 3
  val BloomSalt = "bfs"

  /** The manifest-adjacent sidecar directory of `column`'s file-level
    * bloom index: `(f, word, bits)` parquet rows, one per (file,
    * non-empty 32-bit word) — O(files) metadata, never data-sized.
    */
  def bloomIndexPath(table: String, column: String): String =
    s"$table/index/bloom_$column"

  /** The [[BloomProbes]] bit positions of one key as a Column (the
    * build side): salted portable md5-prefix hashes mod [[BloomBits]].
    */
  private def bloomPositionsCol(k: org.apache.spark.sql.Column) =
    array((0 until BloomProbes).map { i =>
      pmod(graft.functions.DigestPrefix64(
        concat(lit(s"$BloomSalt$i:"), k.cast("string"))), lit(BloomBits))
    }: _*)

  /** The same positions computed DRIVER-SIDE for one probe value —
    * [[graft.functions.DigestPrefix64.hash]] is the JVM body the
    * column expression also calls, so the planner's probe and the
    * builder's bits cannot drift. The hash is a 60-bit non-negative
    * value, so `%` equals `pmod`.
    *
    * `rendered` is the value in the BUILD side's key domain — the
    * output of `k.cast("string")` ([[bloomPositionsCol]]): integers
    * render as their decimal digits (`Long.toString` is byte-for-byte
    * Spark's integer-to-string cast), and STRING columns render as
    * themselves (the cast is the identity), so string point probes —
    * `WHERE doc_id = '...'`, the single most common lookup shape in an
    * LLM data pipeline — ride the same sidecars the build already
    * indexes. Non-ASCII is exact: both sides hash the UTF-8 bytes.
    */
  private def bloomPositionsRendered(rendered: String): Seq[Long] =
    (0 until BloomProbes).map { i =>
      graft.functions.DigestPrefix64.hash(
        s"$BloomSalt$i:$rendered".getBytes(
          java.nio.charset.StandardCharsets.UTF_8)) % BloomBits
    }

  private def bloomPositions(v: Long): Seq[Long] =
    bloomPositionsRendered(v.toString)

  /** Build (or rebuild) the file-level bloom index of `column` over
    * `files`: one distributed scan + a (file, word)-keyed `bit_or`
    * aggregation (map-side partial combine), landing as the sidecar
    * parquet at [[bloomIndexPath]]. The driver never sees data rows —
    * only the O(files × words) index lands, and only on disk.
    */
  def writeBloomIndex(spark: SparkSession, table: String, column: String,
      files: Seq[String], append: Boolean = false): String = {
    val path = bloomIndexPath(table, column)
    spark.read.parquet(files: _*)
      // A NULL key never satisfies a point probe, and would land as a
      // NULL word the index reader cannot decode.
      .filter(col(column).isNotNull)
      .select(input_file_name().as("f"),
        explode(bloomPositionsCol(col(column))).as("p"))
      .select(col("f"), expr("p div 32").as("word"),
        pmod(col("p"), lit(32L)).as("bit"))
      .groupBy("f", "word")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))")
        .as("bits"))
      // append = INCREMENTAL maintenance: an ingest batch indexes only
      // its own files and lands them as additional sidecar parts, so
      // per-batch index cost tracks the batch, never the table (per-
      // file rows are disjoint by construction — each file's bits land
      // exactly once; a REBUILD after compaction uses overwrite).
      .write.mode(if (append) "append" else "overwrite").parquet(path)
    path
  }

  /** Whether `column` has a committed bloom sidecar — what the
    * connector's batch planning consults before probing it.
    */
  def hasBloomIndex(spark: SparkSession, table: String,
      column: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(bloomIndexPath(table, column))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** All columns with committed bloom sidecars — what the connector
    * advertises as runtime-filterable. One directory listing.
    */
  def bloomColumns(spark: SparkSession, table: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$table/index")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("bloom_") => n.stripPrefix("bloom_") }
      .sorted
  }

  /** Table-wide `[lo, hi]` of `column`'s physical-long domain, folded
    * from generation `gen`'s per-file zone maps in ONE manifest read —
    * what serves a pushed bare `MIN(col)` / `MAX(col)` without opening
    * a data file. `Some` ONLY under FULL COVERAGE: every data row that
    * could hold rows (recorded `n_rows` > 0, or unrecorded — unprovably
    * empty admits to the requirement, never past it) must carry a zone
    * row for the column, because a single uncovered file could hold the
    * true extremum. Parquet footer min/max exclude nulls on the build
    * side exactly as SQL MIN/MAX do on the query side, so the fold is
    * value-exact, not approximate — zone maps here are exact integer
    * bounds, never truncated.
    */
  private[graft] def columnMinMax(spark: SparkSession, table: String,
      gen: Long, column: String): Option[(Long, Long)] = {
    val rows = readManifestRows(spark, manifestPath(table, gen))
    val need = rows.collect {
      case r if r.kind.forall(_ == "data") && r.nRows.forall(_ > 0L) => r.path
    }.distinct
    val recs = rows.collect {
      case ManifestRow(p, k, Some(c), Some(mn), Some(mx), _, _, _, _)
          if c == column && k.forall(_ == "data") => (p, mn, mx)
    }
    val covered = recs.map(_._1).toSet
    if (need.nonEmpty && need.forall(covered.contains))
      Some((recs.map(_._2).min, recs.map(_._3).max))
    else None
  }

  /** Per-file IDENTITY partition values of generation `gen` — paths
    * whose zone row on `column` is a point (`min == max`, the shape
    * every partition-routed commit records). What the connector's
    * storage-partitioned-join reporting groups by; files without a
    * point row (null partitions, DML-rewritten files) are simply
    * absent and the caller refuses the grouping.
    */
  private[graft] def partitionValues(spark: SparkSession, table: String,
      gen: Long, column: String): Map[String, Long] =
    readManifestRows(spark, manifestPath(table, gen)).collect {
      case ManifestRow(p, k, Some(c), Some(mn), Some(mx), _, _, _, _)
          if c == column && mn == mx && k.forall(_ == "data") => p -> mn
    }.toMap

  /** `candidates` pruned for a pushed `ORDER BY column [ASC|DESC]
    * NULLS LAST LIMIT n` — the TopN exclusion rule over zone rows:
    * file F drops iff OTHER files' zone rows PROVE at least `n` rows
    * sort strictly before every row of F, i.e. (ascending)
    * Σ nonNull(G) over files G with `maxKey(G) < minKey(F)` ≥ n, where
    * nonNull(G) = recorded rows − recorded column nulls. NULLS LAST
    * is what makes counting whole files sound: F's own null rows sort
    * after everything, and a proof file's nulls are SUBTRACTED (they
    * sort last, not before F). Descending mirrors with min/max
    * swapped. Per-file coverage gates each ROLE independently — a
    * file without full stats can neither prove nor be excluded
    * (conservative both ways), so no global coverage requirement
    * exists. The pushdown stays PARTIAL (Spark's TakeOrderedAndProject
    * still runs), so this only ever shrinks I/O, never decides order.
    */
  def topNAdmitted(spark: SparkSession, table: String, gen: Long,
      column: String, desc: Boolean, n: Int,
      candidates: Seq[String]): Seq[String] = {
    val rows = readManifestRows(spark, manifestPath(table, gen))
    // (minKey, maxKey, nonNullRows) per candidate with FULL stats.
    val recs: Map[String, (Long, Long, Long)] = rows.collect {
      case ManifestRow(p, k, Some(c), Some(mn), Some(mx), _, Some(nr),
          _, Some(nn)) if c == column && k.forall(_ == "data") =>
        p -> ((mn, mx, math.max(0L, nr - nn)))
    }.toMap
    // Prefix sums over the proof bound, not a per-candidate rescan
    // (the naive form is O(candidates²) — ~10¹⁰ driver operations at
    // the 100k-file planning scale this path advertises): ascending
    // sorts statted candidates by maxKey and proof(F) is the prefix
    // sum of nonNull over maxKey < minKey(F); descending mirrors on
    // minKey with a strictly-greater suffix sum. A candidate never
    // proves against itself by construction (its own maxKey ≥ its
    // minKey), so no self-exclusion term is needed.
    val statted = candidates.flatMap(recs.get)
    val sorted = statted
      .map(t => (if (desc) t._1 else t._2, t._3)).sortBy(_._1)
    val keys = sorted.map(_._1).toArray
    val pref = sorted.map(_._2).scanLeft(0L)(_ + _).toArray
    // First index with keys(i) >= x (strict variant: > x).
    def lowerBound(x: Long, strict: Boolean): Int = {
      var lo = 0; var hi = keys.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (if (strict) keys(mid) <= x else keys(mid) < x) lo = mid + 1
        else hi = mid
      }
      lo
    }
    candidates.filter { f =>
      recs.get(f) match {
        case None => true // unstatted: never excluded
        case Some((mn, mx, _)) =>
          val proof =
            if (desc) pref(keys.length) - pref(lowerBound(mx, strict = true))
            else pref(lowerBound(mn, strict = false))
          proof < n.toLong
      }
    }
  }

  /** Columns with long-form zone-map rows ([[publishStats]]) in
    * generation `gen`'s manifest — the dimensions [[admittedFiles]]
    * can prune on. One manifest read.
    */
  def statColumns(spark: SparkSession, table: String, gen: Long): Seq[String] =
    readManifestRows(spark, manifestPath(table, gen))
      .flatMap(_.keyCol).distinct.sorted

  /** Scheme-insensitive file identity: manifest paths and
    * `input_file_name()` render the same file as `/x`, `file:/x` or
    * `file:///x` depending on the producer — compare the URI path.
    */
  private def normPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Driver-side sidecar read (parquet-hadoop Group API, no Spark
    * job — the [[readManifestRows]] rationale: planning-time metadata
    * must not pay a job-scheduling round). Returns file → set words.
    */
  private def readBloomIndex(spark: SparkSession,
      dir: String): Map[String, Map[Long, Long]] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = spark.sparkContext.hadoopConfiguration
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(conf)
    val parts = fs.listStatus(d).map(_.getPath)
      .filter(p => !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .sortBy(_.toString)
    val acc = scala.collection.mutable.Map.empty[String, Map[Long, Long]]
    parts.foreach { p =>
      val reader = ParquetReader.builder(new GroupReadSupport(), p)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).foreach { g =>
        val f = normPath(g.getString("f", 0))
        acc.updateWith(f) { prev =>
          Some(prev.getOrElse(Map.empty) +
            (g.getLong("word", 0) -> g.getLong("bits", 0)))
        }
      } finally reader.close()
    }
    acc.toMap
  }

  /** `candidates` filtered by `column`'s bloom sidecar against a
    * DISJUNCTION of point probes (one value for a pushed `EqualTo`,
    * several for an `IN`): a file survives iff SOME value has every
    * probe bit set in that file's filter. No false negatives by
    * construction; false positives only cost an open (the residual
    * row filter keeps content exact). A candidate the sidecar never
    * indexed — e.g. a file appended after the index build — admits
    * CONSERVATIVELY, the same best-effort contract as an unrecorded
    * zone-map column.
    */
  def bloomAdmittedFiles(spark: SparkSession, table: String, column: String,
      values: Seq[Long], candidates: Seq[String]): Seq[String] =
    bloomAdmittedFilesRendered(spark, table, column,
      values.map(_.toString), candidates)

  /** [[bloomAdmittedFiles]] over probe values already RENDERED in the
    * build side's key domain (`k.cast("string")`): the string-key
    * point-lookup path — a separate name because `Seq[Long]` and
    * `Seq[String]` erase to the same overload signature.
    */
  def bloomAdmittedFilesRendered(spark: SparkSession, table: String,
      column: String, values: Seq[String],
      candidates: Seq[String]): Seq[String] = {
    val idx = readBloomIndex(spark, bloomIndexPath(table, column))
    val probePos = values.distinct.map(bloomPositionsRendered)
    candidates.filter { c =>
      idx.get(normPath(c)) match {
        case None => true
        case Some(words) => probePos.exists(_.forall { p =>
          ((words.getOrElse(p / 32, 0L) >> (p % 32).toInt) & 1L) == 1L
        })
      }
    }
  }

  /** Read generation `gen` restricted to `column ∈ [lo, hi]`, pruning
    * FILES by the manifest's zone maps before any data file opens: a
    * file whose [min_key, max_key] misses the range is never handed to
    * the reader at all. The row-level filter still applies on top (zone
    * maps admit boundary files whose surviving rows the scan filters) —
    * the classic two-level skip every table format implements, here as
    * one manifest filter + an explicit file list.
    */
  def readWhere(spark: SparkSession, table: String, gen: Long,
      column: String, lo: Long, hi: Long): DataFrame = {
    val rows = readManifestRows(spark, manifestPath(table, gen))
    val paths = (if (rows.exists(_.keyCol.isDefined)) {
      // Multi-column manifest ([[publishStats]]): admit a file unless
      // the REQUESTED dimension's zone map excludes it; a file with no
      // row for the dimension admits conservatively. Refuse a column
      // the manifest never recorded — an all-admit "prune" on a typo'd
      // name would silently read the whole table.
      require(rows.exists(_.keyCol.contains(column)),
        s"manifest of $table gen $gen records no zone map for $column " +
          s"(has: ${rows.flatMap(_.keyCol).distinct.sorted.mkString(", ")})")
      val excluded = rows.collect {
        case ManifestRow(p, _, Some(c), Some(mn), Some(mx), _, _, _, _)
            if c == column && (mn > hi || mx < lo) => p
      }.toSet
      rows.collect { case r if r.kind.forall(_ == "data") => r.path }
        .distinct.filterNot(excluded)
    } else {
      require(rows.exists(_.minKey.isDefined),
        s"manifest of $table gen $gen carries no zone-map stats; " +
          "readWhere needs a publishWithStats/publishStats manifest")
      // A data row with no recorded stats (e.g. appended after the
      // stats publish) admits CONSERVATIVELY — pruning may only ever
      // skip files the bounds PROVE irrelevant.
      rows.collect {
        case r if r.kind.forall(_ == "data") &&
          r.minKey.forall(_ <= hi) && r.maxKey.forall(_ >= lo) => r.path
      }
    }).sorted
    if (paths.isEmpty) {
      // No file admitted: return an EMPTY frame with the table's schema
      // from the FOOTERS of every manifest file (mergeSchema unions
      // evolving schemas — metadata reads only, no data pages) — never
      // a corpus-wide scan wearing a false filter (that shape would
      // report every file in `inputFiles` and plan a scan over all of
      // them, the opposite of pruning), and never `all.head` alone,
      // whose single-file schema could miss columns other files carry.
      val all = listFiles(spark, table, gen)
      require(all.nonEmpty, s"generation $gen of $table has no data files")
      val schema = mergedFooterSchema(spark, all)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else
      spark.read.parquet(paths: _*)
        .filter(col(column) >= lo && col(column) <= hi)
  }

  /** The schema `spark.read.option("mergeSchema", true)` would infer
    * over `files`, computed on the DRIVER: per-file footer schemas
    * memoized JVM-wide (data files here are immutable — attempt-
    * private directories, never rewritten in place), folded in file
    * order with Spark's own `StructType.merge` (same fold
    * `SchemaMergeUtils.mergeSchemasInParallel` runs). The distributed
    * footer job the mergeSchema option launches costs ~60-150 ms per
    * call and schema resolution runs per SQL-statement table load —
    * at 100 TB the catalog serves this from table metadata anyway.
    * The memo is LRU-bounded at [[FileSchemaCacheMax]] files, so a
    * long-lived session touching ever more files keeps bounded driver
    * memory.
    */
  private val fileSchemaCache =
    new java.util.LinkedHashMap[String, org.apache.spark.sql.types.StructType](
        64, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String,
          org.apache.spark.sql.types.StructType]): Boolean =
        size() > FileSchemaCacheMax
    }

  /** [[fileSchemaCache]]'s bound: at a few KB of schema per file the
    * cap costs a few MB at most, and it stays above the file count of
    * any one generation the drills and benchmarks resolve (a larger
    * generation only re-reads footers; results never change).
    */
  private[graft] val FileSchemaCacheMax = 1024

  private[graft] def fileSchemaCacheSize: Int =
    fileSchemaCache.synchronized(fileSchemaCache.size())

  def mergedFooterSchema(spark: SparkSession,
      files: Seq[String]): org.apache.spark.sql.types.StructType = {
    require(files.nonEmpty, "mergedFooterSchema needs at least one file")
    files.iterator
      .map { f =>
        // The footer read runs outside the lock, so concurrent
        // resolutions never serialize on I/O.
        fileSchemaCache.synchronized(Option(fileSchemaCache.get(f)))
          .getOrElse {
            val schema = spark.read.parquet(f).schema
            fileSchemaCache.synchronized(fileSchemaCache.put(f, schema))
            schema
          }
      }
      .reduceLeft(org.apache.spark.sql.GraftBridge.mergeSchemas)
  }

  /** All committed generation numbers of `table`, ascending (one
    * manifest directory each).
    */
  def generations(spark: SparkSession, table: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$table/manifests")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("gen=") => s.drop(4).toLong }
      .sorted
  }

  /** Retention sweep: expire every generation strictly below
    * `keepFrom`. The ORDER is the whole safety argument — dead
    * generations' file lists are read into memory, their MANIFESTS
    * delete first (after this no reader can resolve an expired
    * snapshot), and only then do the data files referenced by NO
    * surviving manifest delete. A crash anywhere mid-sweep therefore
    * leaves at worst unreferenced data files (garbage a re-run
    * collects), never a live manifest pointing at deleted data — the
    * standard expire-snapshots contract. Everything here is
    * driver-side work bounded by manifest/file COUNTS, never data
    * size. Returns (manifests removed, orphaned data files removed).
    */
  def expire(spark: SparkSession, table: String, keepFrom: Long): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (dead, live) = generations(spark, table).partition(_ < keepFrom)
    // SEGMENTED lineages resolve through their ancestors: a live
    // segment's chain may pass through generations BELOW keepFrom, and
    // retiring one of those manifests (or its files — a segment's
    // files are referenced ONLY by its own manifest) would corrupt
    // every live descendant. Dead generations on a live chain are
    // therefore PROTECTED — kept, not retired — exactly Iceberg's
    // referenced-snapshot rule; a full-carry CHECKPOINT commit is what
    // re-roots the chain and makes its ancestors expirable.
    // Parent references were recorded with whatever table-path spelling
    // the WRITER used at commitSegment time; qualify BOTH sides through
    // the filesystem (scheme, authority, trailing slash, relative vs
    // absolute) before the prefix compare — a raw string compare
    // silently disengages protection when expire is invoked with a
    // differently-normalized path to the same table, and a manifest a
    // live chain resolves through would retire.
    def qualified(s: String): String = {
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).makeQualified(p).toUri.toString
    }
    val prefix = qualified(s"$table/manifests") + "/gen="
    // Chains share ancestors (every post-checkpoint segment walks to the
    // same root), so a generation already protected has had its whole
    // upstream walk run — each walk stops at the first already-visited
    // generation, and every manifest is read at most once across ALL
    // live generations instead of O(live × chain) times.
    val protectedGens = scala.collection.mutable.Set.empty[Long]
    live.foreach { g =>
      var cur = g
      var continue = true
      var hops = 0
      while (continue) {
        hops += 1
        require(hops <= 100000, s"segment chain of $table gen $g exceeds " +
          "100000 hops during expire protection — cyclic parent references?")
        val parent = readManifestRows(spark, manifestPath(table, cur))
          .find(_.kind.contains(ParentKind))
        parent.map(r => qualified(r.path)) match {
          // A clone's parent may live in ANOTHER table — protection
          // cannot extend there (the source table's expire is its own
          // affair, the documented shallow-clone caveat).
          case Some(p) if p.startsWith(prefix) =>
            cur = p.stripPrefix(prefix).toLong
            continue = protectedGens.add(cur)
          case _ => continue = false
        }
      }
    }
    val retirable = dead.filterNot(protectedGens)
    // Tombstone files are manifest-referenced content too: a surviving
    // merge-on-read generation needs its delete files to serve the
    // right rows, and an expired one's tombstones are orphans like any
    // other unreferenced file. Raw per-manifest rows everywhere: the
    // kept set (live + protected ancestors) covers every chain, and a
    // checkpoint's by-reference manifest keeps its ancestors' files
    // alive even after those manifests retire.
    def allFiles(g: Long): Seq[String] = {
      val (d, t) = rawEntries(spark, table, g)
      d ++ t
    }
    val keptFiles = (live ++ dead.filter(protectedGens)).flatMap(allFiles).toSet
    val deadFiles = retirable.flatMap(allFiles).toSet
    retirable.foreach { g =>
      val m = new org.apache.hadoop.fs.Path(manifestPath(table, g))
      m.getFileSystem(conf).delete(m, true)
    }
    val orphans = (deadFiles -- keptFiles).toSeq.sorted
    orphans.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).delete(p, false)
    }
    (retirable.size.toLong, orphans.size.toLong)
  }

  /** VACUUM: delete files under the table's data/deletes directories
    * that NO generation manifest references — failed-attempt debris,
    * crashed-writer leftovers, files staged by a writer that lost the
    * first-writer-wins race. Distinct from [[expire]] (which retires
    * MANIFESTS and then their now-unreferenced files): vacuum never
    * touches a manifest, so every readable snapshot is untouched by
    * construction. WAP branch staging is exempt — a staged-but-unaudited
    * batch is referenced by its BRANCH manifest, so vacuum treats
    * branch manifests as references too. Driver work is O(files)
    * (directory listing + manifest reads), never data size. Returns
    * (files examined, orphans deleted).
    *
    * Concurrency contract: a writer mid-[[commit]] has staged data
    * files that no manifest references YET. In-progress Spark writes
    * (under `_temporary`) are skipped by the hidden-ANCESTOR check,
    * and `minAgeMs` is the standard retention guard for the
    * staged-but-unpublished window. The DEFAULT is a conservative
    * [[VacuumDefaultMinAgeMs]] (Delta's is 7 days): an unsafe-by-
    * default sweep racing an in-flight connector write would delete
    * the writer's staged parquet before its driver-side commit.
    * `minAgeMs = 0` must be passed EXPLICITLY and only inside a
    * quiesced single-writer maintenance window (the drills).
    */
  def vacuum(spark: SparkSession, table: String,
      minAgeMs: Long = VacuumDefaultMinAgeMs): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val referenced = (generations(spark, table).flatMap { g =>
      // Raw per-manifest rows, NOT chain resolution: a reference sweep
      // wants each generation's OWN entries (segment manifests list
      // exactly their batch; the union over all generations covers the
      // chain), and the plain reader's segmented-manifest guard must
      // not fire here.
      val (d, t) = rawEntries(spark, table, g)
      d ++ t
    } ++ branches(spark, table).flatMap(b => stagedFiles(spark, table, b)))
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    val roots = Seq(s"$table/data", s"$table/deletes")
    // A file is hidden if ANY path component below the root is
    // dot/underscore-prefixed — a bare leaf-name test would admit
    // part files inside an in-flight writer's `_temporary` tree.
    def hidden(p: org.apache.hadoop.fs.Path, root: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p
      while (cur != null && cur.toUri.getPath != root.toUri.getPath) {
        val n = cur.getName
        if (n.startsWith(".") || n.startsWith("_")) return true
        cur = cur.getParent
      }
      false
    }
    val present = roots.flatMap { r =>
      val root = new org.apache.hadoop.fs.Path(r)
      val fs = root.getFileSystem(conf)
      if (!fs.exists(root)) Seq.empty
      else {
        val it = fs.listFiles(root, true)
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(org.apache.hadoop.fs.Path, Long)]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && !hidden(f.getPath, root))
            buf += ((f.getPath, f.getModificationTime))
        }
        buf.toSeq
      }
    }
    val orphans = present.filter { case (p, mtime) =>
      !referenced.contains(p.toUri.getPath) && mtime <= cutoff
    }
    orphans.foreach { case (p, _) => p.getFileSystem(conf).delete(p, false) }
    (present.size.toLong, orphans.size.toLong)
  }

  /** Default [[vacuum]] retention: 24 hours, comfortably above any
    * commit duration. Production tables tune it UP (Delta defaults to
    * 7 days); only a quiesced maintenance window passes 0.
    */
  val VacuumDefaultMinAgeMs: Long = 24L * 60 * 60 * 1000

  /** The live WAP branch names of `table` ([[stage]]). */
  def branches(spark: SparkSession, table: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$table/branches")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .filter(b => fs.exists(
        new org.apache.hadoop.fs.Path(branchManifestPath(table, b))))
      .sorted
  }

  /** DROP the whole table — the lifecycle terminator next to
    * [[expire]]/[[vacuum]]: every manifest, branch pointer, data,
    * tombstone and index file under the table root deletes, and the
    * root itself retires, so `tableExists` turns false and the name is
    * free for a fresh CTAS. GUARDED by default: a staged WAP branch
    * (an audit in flight) or surviving HISTORY (generations below the
    * latest still serving time travel) refuses without `force` —
    * dropping either silently would destroy work another surface still
    * addresses; `expire` history down to the latest generation first,
    * or pass `force` in a deliberate teardown. Sweep order is
    * MANIFESTS FIRST (the [[expire]] argument: once the manifests are
    * gone no reader can resolve a snapshot, so a crash mid-sweep
    * leaves only unreferenced files, never a live manifest over
    * deleted data). The shallow-clone caveat applies exactly as for
    * expire: a clone referencing this table's files loses them — the
    * clone references, it does not own. Returns `(generations removed,
    * referenced files removed)` — the file count covers only
    * MANIFEST-REFERENCED paths UNDER the table root, the ones a reader
    * could still resolve: a foreign path registered by an explicit-path
    * publish (or a clone-referenced parent file living in another
    * table) is referenced but never owned, so it is neither deleted nor
    * counted; and because the sweep deletes whole DIRECTORIES, local
    * debris no manifest references (staged-branch data files, legacy
    * unreferenced parts, `_SUCCESS` markers, index sidecars) is removed
    * but deliberately NOT counted — the count answers "how many live
    * data/tombstone files did this destroy", not "how many inodes went
    * away".
    */
  def drop(spark: SparkSession, table: String,
      force: Boolean = false): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val gens = generations(spark, table)
    require(gens.nonEmpty, s"$table has no committed generation; nothing to drop")
    val staged = branches(spark, table)
    require(force || staged.isEmpty,
      s"refusing to drop $table: branch(es) ${staged.mkString(", ")} are " +
        "staged for audit - publish or abandon them first, or pass force")
    require(force || gens.size == 1,
      s"refusing to drop $table: ${gens.size} generations survive and time " +
        "travel still serves them - expire history down to the latest " +
        "generation first, or pass force")
    // Qualified-prefix ownership test (the expire protection's
    // normalization: scheme/authority/relative spellings must compare
    // equal).
    def qualified(s: String): String = {
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).makeQualified(p).toUri.toString
    }
    val rootPrefix = qualified(table) + "/"
    val files = gens.flatMap { g =>
      val (d, t) = rawEntries(spark, table, g)
      d ++ t
    }.distinct.filter(f => qualified(f).startsWith(rootPrefix))
    def sweep(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(conf).delete(p, true)
      ()
    }
    sweep(s"$table/manifests")
    sweep(s"$table/branches")
    Seq("data", "deletes", "index").foreach(d => sweep(s"$table/$d"))
    sweep(table)
    (gens.size.toLong, files.size.toLong)
  }

  /** ANALYZE: record multi-column zone maps (with per-column null
    * counts) for the LATEST snapshot's files from their parquet
    * FOOTERS — the command that turns a plain lineage (a CTAS'd
    * table, a streamed ingest) into a pruning/minmax/topn-capable one
    * without rewriting a byte: the new generation carries every
    * manifest row verbatim (same-column zone rows REFRESHED — a
    * re-analyze after appends replaces stale coverage), plus one
    * long-form row per (file, column). O(files) footer metadata reads,
    * zero data pages; the hop is file-neutral (the streaming tail sees
    * an empty diff), recorded action "analyze". Strict on coverage:
    * a named column missing from any footer (or statless) refuses —
    * half-analyzed pruning would be indistinguishable from full.
    */
  def analyze(spark: SparkSession, table: String,
      columns: Seq[String]): Long = {
    require(columns.nonEmpty, "analyze needs at least one column")
    val gens = generations(spark, table)
    require(gens.nonEmpty, s"$table has no committed generation")
    val gen = gens.max
    val (data, dels, seg) = tailEntries(spark, table, gen)
    require(dels.isEmpty && !seg,
      s"analyze needs a plain full-carry lineage at $table")
    val stats = footerStats(spark, data, columns)
    val nulls = footerNullCounts(spark,
      stats.map(r => (r._1, r._2)).distinct)
    val prev = readManifestRows(spark, manifestPath(table, gen))
    val metaOf: Map[String, (Option[Long], Option[Long])] =
      recordedFileStats(spark, table, gen)
    val fresh = stats.map { case (p, c, mn, mx) =>
      ManifestRow(p, keyCol = Some(c), minKey = Some(mn), maxKey = Some(mx),
        nRows = metaOf.get(p).flatMap(_._1),
        bytes = metaOf.get(p).flatMap(_._2),
        nNulls = nulls.getOrElse((p, c), None))
    }
    val kept = prev.filterNot(_.keyCol.exists(columns.contains))
    writeManifest(spark, table, gen + 1, replace = false,
      (kept ++ fresh).sortBy(r => (r.kind.getOrElse("data"), r.path)),
      Some("analyze"))
    gen + 1
  }

  /** Compaction rewrite input on an EVOLVED lineage: when the
    * generation's recorded schema carries rename aliases or drop
    * tombstones, the raw mergeSchema union holds the old AND new
    * names with complementary nulls — writing that verbatim would
    * make serving-name-first readers serve NULL for every pre-rename
    * row (the old name is suppressed by claimedNames, so the values
    * become unreachable). Project through the serving schema with
    * alias coalesce (the DELETE COW path's shapedToServing contract)
    * before the rewrite. Identity — the exact input frame — on a
    * lineage without rename/drop history.
    */
  private def shapedForRewrite(spark: SparkSession, table: String,
      gen: Long, raw: DataFrame): DataFrame = {
    import graft.streaming.SnapshotSource
    recordedSchema(spark, table, gen) match {
      case Some(rec) if SnapshotSource.aliasMapOf(rec).nonEmpty ||
          rec.fields.exists(SnapshotSource.isDropped) =>
        val claimed = SnapshotSource.claimedNames(rec)
        val serving = org.apache.spark.sql.types.StructType(
          rec.fields.filterNot(SnapshotSource.isDropped) ++
            raw.schema.fields.filterNot(f =>
              claimed.exists(_.equalsIgnoreCase(f.name))))
        SnapshotSource.shapeRawTo(raw, serving)
      case _ => raw
    }
  }

  /** Compact ONE partition of the latest snapshot — the maintenance
    * op the `partitions` relation points at ("value 7 has 400 small
    * files"): the value's routed files bin-pack into `files` outputs
    * committed as a SUBSET rewrite (every other file, zone rows
    * included, carries verbatim), the fresh files re-stamped with the
    * partition's point zone row so pruning and storage-partitioned
    * joins keep working across maintenance. Cost is O(the partition),
    * never O(table) — the property whole-snapshot [[compact]] cannot
    * offer at 100 TB. Recorded action "compact", so the streaming
    * skip guard's row-count neutrality check applies. Returns
    * `(files before, new generation)`.
    */
  def compactPartition(spark: SparkSession, table: String, value: Long,
      files: Int = 1): (Long, Long) = {
    val gens = generations(spark, table)
    require(gens.nonEmpty, s"$table has no committed generation")
    val gen = gens.max
    val col = partitionColumn(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"$table records no identity partition column; " +
          "compact_partition applies to PARTITIONED tables"))
    val (_, dels, seg) = tailEntries(spark, table, gen)
    require(dels.isEmpty && !seg,
      s"compact_partition needs a plain full-carry lineage at $table")
    val vals = partitionValues(spark, table, gen, col)
    val touched = listFiles(spark, table, gen)
      .filter(p => vals.get(p).contains(value))
    require(touched.nonEmpty,
      s"partition $col=$value of $table has no routed files")
    val dataDir = s"$table/data/gen=${gen + 1}/a=${attemptName()}/p=$value"
    shapedForRewrite(spark, table, gen,
        spark.read.schema(mergedFooterSchema(spark, touched))
          .parquet(touched: _*))
      .repartition(files)
      .write.mode("overwrite").parquet(dataDir)
    val fresh = freshFiles(spark, dataDir)
    publishSubsetRewrite(spark, table, gen + 1, touched.toSet, fresh,
      "compact", freshPartition = Some((col, value)))
    (touched.size.toLong, gen + 1)
  }

  /** Compact generation `fromGen` into `fromGen + 1`: read the old
    * snapshot through its manifest, rewrite into `files` output files,
    * publish the new manifest. The old manifest (and its files) remain
    * untouched — that is what keeps time travel to the pre-compaction
    * generation alive.
    */
  def compact(spark: SparkSession, table: String, fromGen: Long, files: Int): Unit = {
    // A compaction reads the PURE data files; compacting a
    // merge-on-read generation this way would resurrect its deleted
    // rows. Materializing a MoR generation is a key-aware operation —
    // commit(readMor(...)) — and must be requested as one.
    require(listDeleteFiles(spark, table, fromGen).isEmpty,
      s"generation $fromGen of $table carries merge-on-read tombstones; " +
        "compact would resurrect deleted rows - materialize via " +
        "commit(readMor(...)) instead")
    // Rename/drop history needs the footer union (pre- and post-rename
    // files disagree on names) projected to serving shape; plain
    // lineages keep the cheaper single-footer read, byte-unchanged.
    val src = recordedSchema(spark, table, fromGen) match {
      case Some(rec)
          if graft.streaming.SnapshotSource.aliasMapOf(rec).nonEmpty ||
            rec.fields.exists(graft.streaming.SnapshotSource.isDropped) =>
        shapedForRewrite(spark, table, fromGen,
          readAsMerged(spark, table, fromGen))
      case _ => readAs(spark, table, fromGen)
    }
    commit(src.repartition(files), table, fromGen + 1, action = "compact")
  }
}
