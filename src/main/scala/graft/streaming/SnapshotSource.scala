package graft.streaming

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsPushDownV2Filters}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.sources.SnapshotTable

/** A [[SnapshotTable]] as a Structured Streaming SOURCE — the read
  * side of the lakehouse loop whose write side is
  * [[SnapshotStream.snapshotIngest]]: a DataSource V2 `MicroBatchStream`
  * whose OFFSETS are the table's generation numbers. Each micro-batch
  * covers a span of generation hops; per hop the planned input is the
  * MANIFEST DIFF ([[SnapshotTable.changedFiles]]) — an append hop
  * contributes exactly the batch's files (history, carried verbatim in
  * the manifest, is never re-read), so tailing the table costs the
  * new data, never the table. That is the Delta/Iceberg streaming-read
  * contract, built on the same public connector API
  * (`TableProvider` → `SupportsRead` → `Scan.toMicroBatchStream`).
  *
  * Rewrite hops (a non-empty removed side: compaction / OPTIMIZE)
  * carry no new content — their added−removed net is zero (pinned by
  * `src_snapshot_changes`) — but a file-level tail cannot SEE that
  * without reading both sides, so the source follows the lakehouse
  * convention: it THROWS on a rewrite hop by default (a MERGE would
  * also look like a rewrite, and silently skipping one would drop
  * updates), and skips rewrite hops as content-neutral only under
  * `.option("skipRewrites", "true")` — the analogue of Delta's
  * `ignoreChanges` opt-in.
  *
  * Exactly-once across restarts comes from the offset log: Structured
  * Streaming checkpoints the consumed generation, a restarted query
  * resumes planning at the next hop, and because generations are
  * immutable once published (first-writer-wins commits), re-planning a
  * hop yields byte-identical files. Retention is the one caveat:
  * [[SnapshotTable.expire]] deletes old manifests, so the replayable
  * window is the unexpired history — the standard
  * retention-vs-replay trade every lakehouse source documents.
  *
  * The per-file readers decode parquet through the library's public
  * example Group API (no Spark internals): primitive columns map by
  * NAME from the file footer's schema to the scan schema, so a file
  * written before a column was added simply yields nulls for it —
  * the mergeSchema posture at the row level.
  */
class SnapshotSourceProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotSource.latestSchema(SnapshotSource.tableRoot(options))

  // Writes to a not-yet-existing table have no schema to infer; with
  // external metadata allowed, Spark hands the dataframe's schema to
  // getTable instead. Reads still infer from the latest manifest.
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SnapshotSourceTable(
      SnapshotSource.tableRoot(new CaseInsensitiveStringMap(properties)), schema)
}

private[graft] object SnapshotSource {

  /** Last batch-planning outcome per table — DRIVER-side planning
    * telemetry: `(planned file count, whether runtime filters had been
    * applied to that planning)`. Execution planning runs on Scan
    * instances AQE may re-create and discard (a post-hoc walk of the
    * final plan can land on an unfiltered cosmetic copy), so the
    * drills/specs that gate pruning decisions read the LAST planning
    * the connector actually performed instead of introspecting plan
    * nodes. Keyed by table root; per-drill tables are unique paths.
    */
  private val planLog =
    new java.util.LinkedHashMap[String, List[(Int, Boolean)]](64, 0.75f,
        /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, List[(Int, Boolean)]]): Boolean =
        size() > PlanLogMaxTables
    }

  /** Per-table history cap: the gates read the recent tail; without a
    * bound a long-lived session re-planning one table forever would
    * grow the log (and pay an O(n) list copy per append).
    */
  private val PlanLogKeep = 16

  /** TABLE-key cap: the map itself is LRU-bounded, because a long-lived
    * session creating many ephemeral tables (the bench/drill pattern)
    * would otherwise grow the driver-side telemetry without bound. 256
    * tables × 16 entries is a few KB; a gate always reads its table
    * immediately after planning it, so eviction can never race a
    * consumer that matters.
    */
  private val PlanLogMaxTables = 256

  private[streaming] def recordPlan(table: String, files: Int,
      runtimeApplied: Boolean): Unit = planLog.synchronized {
    val old = Option(planLog.get(table)).getOrElse(Nil)
    planLog.put(table, (old :+ ((files, runtimeApplied))).takeRight(PlanLogKeep))
    ()
  }

  /** Every batch planning of `table` this session, in order. */
  private[graft] def planHistory(table: String): Seq[(Int, Boolean)] =
    planLog.synchronized { Option(planLog.get(table)).getOrElse(Nil) }

  /** Whether the LAST scan-statistics estimation of `table` was served
    * from manifest-recorded file stats alone (`true`) or had to fall
    * back to per-file driver FS lookups (`false`, legacy lineages) —
    * the telemetry the zero-per-file-planning-I/O spec gates on, kept
    * driver-side for the same AQE-copy reason as [[planLog]]. Same
    * LRU bound.
    */
  private val statsLog = new java.util.LinkedHashMap[String, Boolean](64,
      0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Boolean]): Boolean =
      size() > PlanLogMaxTables
  }

  private[streaming] def recordStatsSource(table: String,
      fromManifest: Boolean): Unit =
    statsLog.synchronized { statsLog.put(table, fromManifest); () }

  private[graft] def lastStatsFromManifest(table: String): Option[Boolean] =
    statsLog.synchronized { Option(statsLog.get(table)) }

  /** Whether the LAST batch scan of `table` served a PUSHED-DOWN
    * COUNT(*) from manifest stats (no data file opened) — the gate
    * telemetry for aggregate pushdown, same LRU bound and AQE-copy
    * rationale as [[planLog]]. `false` records an explicit refusal
    * (filters present, tombstones, missing stats).
    */
  private val countLog = new java.util.LinkedHashMap[String, Boolean](64,
      0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Boolean]): Boolean =
      size() > PlanLogMaxTables
  }

  private[streaming] def recordCountPushdown(table: String,
      served: Boolean): Unit =
    countLog.synchronized { countLog.put(table, served); () }

  private[graft] def lastCountPushdown(table: String): Option[Boolean] =
    countLog.synchronized { Option(countLog.get(table)) }

  private[graft] def lastPlan(table: String): Option[(Int, Boolean)] =
    planHistory(table).lastOption

  def tableRoot(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "snapshot source requires .option(\"path\", <table root>) or .load(<table root>)")
    p
  }

  def latestSchema(table: String): StructType = {
    val spark = SparkSession.active
    val gens = SnapshotTable.generations(spark, table)
    require(gens.nonEmpty,
      s"snapshot source needs at least one committed generation at $table")
    schemaAt(table, gens.max)
  }

  // ---- Schema-evolution metadata (RENAME / DROP COLUMN) -------------
  // The recorded-schema sidecar is the single source of truth for
  // metadata-only evolution; renames and drops ride STRUCTFIELD
  // METADATA inside it (the JSON round-trips both), so no second
  // sidecar format exists:
  //  - a RENAMED field keeps its data under the old name in old files;
  //    the field carries its prior names (newest first) and readers
  //    resolve through the alias chain;
  //  - a DROPPED field stays in the sidecar as a TOMBSTONE (marker
  //    metadata): it never serves, but its presence keeps the footer
  //    union from resurrecting the column, and re-adding the name is
  //    refused (by-name resolution would resurrect old values — the
  //    field-id machinery this format deliberately does not have).

  /** Tombstone marker on a dropped field. */
  val DroppedKey = "graft.dropped"

  /** Prior names of a renamed field, newest first. */
  val PriorKey = "graft.prior"

  def isDropped(f: StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  def priorsOf(f: StructField): Seq[String] =
    if (f.metadata.contains(PriorKey))
      f.metadata.getStringArray(PriorKey).toSeq
    else Seq.empty

  /** Current name → prior names, for every renamed field of `schema` —
    * what the readers resolve through when a scan field is absent from
    * a pre-rename file's footer.
    */
  def aliasMapOf(schema: StructType): Map[String, Seq[String]] =
    schema.fields.iterator.map(f => f.name -> priorsOf(f))
      .filter(_._2.nonEmpty).toMap

  /** Every name the recorded schema CLAIMS (serving names, tombstoned
    * names, and all prior names of renamed fields) — the set the
    * footer union must suppress, and re-ADD must refuse.
    */
  def claimedNames(rec: StructType): Seq[String] =
    rec.fields.toSeq.flatMap(f => f.name +: priorsOf(f))

  /** A RAW parquet frame (file-footer column names) projected to a
    * SERVING schema on a lineage with rename/drop history: each
    * serving field coalesces its own column with its alias chain (old
    * and new names are file-disjoint, so coalesce is exact), names
    * absent from `serving` (tombstoned columns) drop, and a serving
    * column no file carries yet serves typed NULL. Identity on an
    * unevolved lineage. Shared by the COW rewrite paths (DELETE) and
    * the compaction rewrites — a compaction that wrote raw footer
    * names on a renamed lineage would emit a file holding BOTH the
    * old- and new-name columns with complementary nulls, and
    * serving-name-first readers would silently serve NULL for every
    * pre-rename row.
    */
  def shapeRawTo(df: org.apache.spark.sql.DataFrame,
      serving: StructType): org.apache.spark.sql.DataFrame = {
    val aliases = aliasMapOf(serving)
    val raw = df.schema.fieldNames.toSet
    val names = serving.fieldNames.toSet
    if (aliases.isEmpty && raw.subsetOf(names)) df
    else {
      val f = org.apache.spark.sql.functions
      df.select(serving.fields.toSeq.map { fd =>
        val cands = (fd.name +: aliases.getOrElse(fd.name, Seq.empty))
          .filter(raw.contains)
        if (cands.isEmpty) f.lit(null).cast(fd.dataType).as(fd.name)
        else if (cands.size == 1) f.col(cands.head).as(fd.name)
        else f.coalesce(cands.map(f.col): _*).as(fd.name)
      }: _*)
    }
  }

  /** Schema as of one generation (the time-travel variant of
    * [[latestSchema]] — a `VERSION AS OF` read must resolve columns
    * against the schema THAT snapshot carried, not today's). The
    * generation's RECORDED schema (the ALTER TABLE sidecar, propagated
    * into every post-alter manifest) takes precedence: a column added
    * by ALTER exists before any data file carries it, old rows serving
    * NULL through the readers' resolve-by-name contract; a DROPPED
    * column's tombstone suppresses both serving and the footer union;
    * a RENAMED column serves under its new name with the alias chain
    * riding its metadata. Columns only the footers know
    * (evolution-by-append) still union in behind it.
    */
  def schemaAt(table: String, gen: Long): StructType = {
    val spark = SparkSession.active
    val (own, _, seg) = SnapshotTable.tailEntries(spark, table, gen)
    val files =
      if (seg) SnapshotTable.resolvedFiles(spark, table, gen) else own
    val footer = SnapshotTable.mergedFooterSchema(spark, files)
    SnapshotTable.recordedSchema(spark, table, gen) match {
      case None => footer
      case Some(rec) =>
        // Case-INSENSITIVE dedup (Spark's default resolution): a
        // library commit can land a differently-cased duplicate the
        // catalog's ALTER guard never saw, and serving both spellings
        // would make every reference to the column ambiguous. The
        // suppression set covers tombstoned and pre-rename names too.
        val claimed = claimedNames(rec)
        StructType(rec.fields.filterNot(isDropped) ++
          footer.fields.filterNot(f =>
            claimed.exists(_.equalsIgnoreCase(f.name))))
    }
  }

  /** Parquet INT96 timestamp (the type Spark's own writer emits by
    * default) as epoch MICROS: 8 little-endian bytes of
    * nanos-of-day + 4 little-endian bytes of Julian day. Modern
    * timestamps only (no pre-Gregorian rebase — the 1582 calendar
    * switch is out of every fixture's range and documented as such).
    */
  def int96ToMicros(b: Array[Byte]): Long = {
    require(b.length == 12, s"INT96 timestamp must be 12 bytes; got ${b.length}")
    val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = buf.getLong
    val julianDay = buf.getInt
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  /** The session's Hadoop configuration, captured DRIVER-SIDE in a
    * serializable wrapper for the task-side readers/writers — a bare
    * `new Configuration()` would drop every `spark.hadoop.*` setting
    * (filesystem credentials, scheme registrations) the rest of the
    * snapshot layer honors.
    */
  def sessionConf(): SerializableConfiguration =
    new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())

  /** The column a V2 expression names, when it is a single-part
    * reference — the shape every pushdown this connector accepts
    * (predicates, TopN orders, aggregate arguments) requires.
    */
  private[streaming] def v2Col(
      e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }

  /** Full-content commits (INSERT OVERWRITE, CTAS) reduce their staged
    * files to `(files to publish, husks to delete)`: zero-row husks
    * drop from a non-empty result (they would bloat the manifest
    * forever), while an all-empty result keeps exactly ONE zero-row
    * file as the SCHEMA CARRIER — or writes one driver-side when no
    * task staged anything — so the reader contracts that require files
    * (schema inference, initial streaming loads) hold on an empty but
    * valid generation.
    */
  def contentOrHusk(spark: SparkSession, staged: Seq[String],
      stageDir: String, schema: StructType): Seq[String] = {
    val (files, empty) = SnapshotTable.footerRowCounts(spark, staged)
      .partition(_._2 > 0L)
    val (publish, drop) =
      if (files.nonEmpty) (files.map(_._1), empty.map(_._1))
      else if (empty.nonEmpty)
        (empty.take(1).map(_._1), empty.drop(1).map(_._1))
      else {
        val husk = s"$stageDir/empty-00000.parquet"
        val w = new SnapshotFileWriter(husk, schema, sessionConf().value)
        w.commit()
        (Seq(husk), Seq.empty[String])
      }
    drop.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(hp, false)
    }
    publish
  }

  /** Commit messages flattened to `(path, partition value)` — both
    * writer families produce the same shape (`None` for files whose
    * writer did no routing), so every commit path collects once.
    */
  private[streaming] def stagedOf(
      messages: Array[WriterCommitMessage]): Seq[(String, Option[Long])] =
    messages.toSeq.flatMap {
      case SnapshotWriteMessage(p) => Seq((p, Option.empty[Long]))
      case SnapshotPartsWriteMessage(fs) => fs
      case _ => Seq.empty
    }.sortBy(_._1)

  /** Recursive delete of one staging directory — the shared abort/
    * lost-race sweep every batch writer uses.
    */
  private[streaming] def deleteDir(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Minimum two's-complement byte width holding any unscaled decimal
    * of `precision` digits — the FIXED_LEN_BYTE_ARRAY length the
    * parquet format spec mandates for wide decimals (precision 38 →
    * 16 bytes, the INT128 width every engine uses).
    */
  def decimalBytes(precision: Int): Int =
    math.ceil((precision * math.log(10) / math.log(2) + 1) / 8).toInt

  /** The parquet schema for the write path — the readers' type set,
    * with the standard logical annotations so a plain
    * `spark.read.parquet` round-trips the types. DECIMAL follows the
    * format spec's physical mapping (INT64 for precision ≤ 18,
    * FIXED_LEN_BYTE_ARRAY above — the layout Spark's own writer emits
    * with legacy format off), and ARRAY is the standard THREE-LEVEL
    * list (`optional group (LIST) { repeated group list { optional
    * element } }`) over a primitive element, so money and embedding
    * columns commit through the connector/catalog like any other.
    */
  def messageTypeOf(schema: StructType): org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    def prim(dt: DataType, name: String, owner: String,
        req: Boolean = false): org.apache.parquet.schema.Type = {
      val rep =
        if (req) org.apache.parquet.schema.Type.Repetition.REQUIRED
        else org.apache.parquet.schema.Type.Repetition.OPTIONAL
      dt match {
        case LongType => Types.primitive(INT64, rep).named(name)
        case TimestampType => Types.primitive(INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
          .named(name)
        case TimestampNTZType => Types.primitive(INT64, rep)
          .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS))
          .named(name)
        case IntegerType => Types.primitive(INT32, rep).named(name)
        case DateType => Types.primitive(INT32, rep)
          .as(LogicalTypeAnnotation.dateType()).named(name)
        case DoubleType => Types.primitive(DOUBLE, rep).named(name)
        case FloatType => Types.primitive(FLOAT, rep).named(name)
        case BooleanType => Types.primitive(BOOLEAN, rep).named(name)
        case StringType => Types.primitive(BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(name)
        case BinaryType => Types.primitive(BINARY, rep).named(name)
        case d: DecimalType if d.precision <= 18 => Types.primitive(INT64, rep)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
        case d: DecimalType => Types.primitive(FIXED_LEN_BYTE_ARRAY, rep)
          .length(decimalBytes(d.precision))
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
        case other => throw new UnsupportedOperationException(
          s"snapshot writer supports primitive/decimal/nested columns; " +
            s"got $other for $owner")
      }
    }
    def typ(dt: DataType, name: String,
        owner: String): org.apache.parquet.schema.Type = dt match {
      case ArrayType(et, _) => Types.optionalList()
        .element(typ(et, "element", s"$owner (array element)"))
        .named(name)
      case st: StructType =>
        // Typed metadata (the multimodal story): STRUCT as an optional
        // nested group, members recursively — struct-of-struct,
        // array-of-struct and struct-of-array all compose.
        val gb = Types.optionalGroup()
        st.fields.foreach(f =>
          gb.addField(typ(f.dataType, f.name, s"$owner.${f.name}")))
        gb.named(name)
      case MapType(kt, vt, _) =>
        // Standard MAP shape: repeated key_value group, REQUIRED
        // primitive key (the format's contract), optional value of any
        // supported shape.
        Types.optionalMap()
          .key(prim(kt, "key", s"$owner (map key)", req = true))
          .value(typ(vt, "value", s"$owner (map value)"))
          .named(name)
      case other => prim(other, name, owner)
    }
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(typ(f.dataType, f.name, f.name)))
    b.named("spark_schema")
  }

  /** One decimal's unscaled value as the fixed-width two's-complement
    * big-endian byte array FIXED_LEN_BYTE_ARRAY decimals store —
    * sign-extended to exactly [[decimalBytes]] of the precision.
    */
  def decimalToFixedBytes(d: org.apache.spark.sql.types.Decimal,
      precision: Int): Array[Byte] = {
    val width = decimalBytes(precision)
    val raw = d.toJavaBigDecimal.unscaledValue.toByteArray
    require(raw.length <= width,
      s"unscaled decimal ${d} needs ${raw.length} bytes; precision " +
        s"$precision allows $width")
    if (raw.length == width) raw
    else {
      val out = new Array[Byte](width)
      val pad: Byte = if (raw(0) < 0) -1 else 0
      java.util.Arrays.fill(out, 0, width - raw.length, pad)
      System.arraycopy(raw, 0, out, width - raw.length, raw.length)
      out
    }
  }
}

private[graft] class SnapshotSourceTable(table: String, tableSchema: StructType,
    pinnedGen: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = s"snapshot:$table"

  /** The pushed DELETE predicates as one SQL conjunction, via the
    * public V2-expression SQL builder — `None` when any predicate has
    * no SQL rendering (Spark then refuses the DELETE up front through
    * [[canDeleteWhere]] instead of failing mid-commit).
    */
  private def deletePredicateSql(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[String] =
    try {
      // Literals render through Catalyst's own `Literal.sql`, which
      // parses back to the same typed value; the builder's default
      // prints the internal value (a DATE as its epoch-day INT).
      val b = new org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder {
        override protected def visitLiteral(
            l: org.apache.spark.sql.connector.expressions.Literal[_]): String =
          org.apache.spark.sql.catalyst.expressions.Literal(l.value(), l.dataType()).sql
      }
      val parts = predicates.map(b.build)
      Some(if (parts.isEmpty) "TRUE" else parts.map(p => s"($p)").mkString(" AND "))
    } catch { case _: Exception => None }

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean = deletePredicateSql(predicates).isDefined

  /** A RAW parquet frame (file-footer column names) projected to the
    * SERVING schema — the bridge the COW rewrite paths need on a
    * lineage with rename/drop history: each serving field coalesces
    * its own column with its alias chain (old and new names are
    * file-disjoint, so coalesce is exact), tombstoned columns drop,
    * and a column no file carries yet serves typed NULL. Identity on
    * an unevolved lineage, so the plain path is byte-unchanged.
    */
  private def shapedToServing(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    SnapshotSource.shapeRawTo(df, tableSchema)

  /** SQL `DELETE FROM <catalog>.<table> WHERE ...` — a COPY-ON-WRITE
    * delete: the survivors of the latest snapshot rewrite into the
    * NEXT generation under the standard first-writer-wins commit with
    * the recorded action "delete" (so the streaming `skipRewrites`
    * guard correctly refuses to skip the hop — a delete is NOT
    * content-neutral), history keeps serving the pre-delete rows
    * through time travel, and a racing writer loses the manifest
    * publish, never half-deletes. The library's key-scoped MoR delete
    * (`commitUpsert`/tombstones) remains the low-rate path; SQL DELETE
    * is the predicate-shaped COW path, and `readAs`'s own guards
    * refuse to COW over a tombstoned lineage rather than resurrecting
    * rows.
    */
  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val sql = deletePredicateSql(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot render DELETE predicates ${predicates.mkString(", ")} as SQL"))
    val spark = SparkSession.active
    val gens = SnapshotTable.generations(spark, table)
    require(gens.nonEmpty, s"DELETE on an empty snapshot table $table")
    val latest = gens.max
    // SQL DELETE semantics: a row is deleted iff the predicate is TRUE.
    // A bare not(pred) would also drop NULL-result rows (not(NULL) is
    // NULL, which filter treats as false) — silently deleting rows the
    // predicate did NOT match. coalesce pins the three-valued logic.
    val f = org.apache.spark.sql.functions
    val keep = f.not(f.coalesce(f.expr(sql), f.lit(false)))

    // FILE-PRUNED copy-on-write: on a plain data lineage whose manifest
    // carries multi-column zone maps, files whose recorded ranges
    // cannot intersect the predicate's bounds provably hold no matching
    // row and CARRY VERBATIM (stats rows included) — the delete
    // rewrites only the admitted files, so its cost is O(affected), not
    // O(table). The footer-derived stats are load-bearing here, the
    // same trust the layer's compaction and skip drills place in them.
    // Tombstoned or segmented lineages fall through to the
    // whole-snapshot path, whose readAs guards own those semantics.
    val (dataFiles, tombstones, segmented) =
      SnapshotTable.tailEntries(spark, table, latest)
    val pushed = PushedPredicates.of(predicates, tableSchema)
    if (!segmented && tombstones.isEmpty && pushed.nonEmpty) {
      // Exactly the batch scan's file admission (zone maps, then bloom
      // sidecars).
      val affected = pushed.admittedFiles(spark, table, latest)
      val untouched = dataFiles.distinct.toSet -- affected
      if (untouched.nonEmpty) {
        val gen = latest + 1
        val fresh =
          if (affected.isEmpty) Seq.empty[String]
          else {
            val dataDir = s"$table/data/gen=$gen/a=${SnapshotTable.attemptName()}"
            shapedToServing(
                spark.read
                  .schema(SnapshotTable.mergedFooterSchema(spark, affected))
                  .parquet(affected: _*))
              .filter(keep)
              .write.mode("overwrite").parquet(dataDir)
            SnapshotTable.freshFiles(spark, dataDir)
          }
        SnapshotTable.publishSubsetRewrite(spark, table, gen,
          affected.toSet, fresh, "delete")
        return
      }
    }
    val survivors =
      shapedToServing(SnapshotTable.readAs(spark, table, latest)).filter(keep)
    SnapshotTable.commit(survivors, table, latest + 1L, action = "delete")
  }

  /** SQL `UPDATE` / `MERGE INTO` via the group-based row-level
    * operation protocol, as FILE-PRUNED copy-on-write: Spark's
    * `GroupBasedRowLevelOperationScanPlanning` pushes the command's
    * condition into the operation's scan builder, the scan's batch
    * planning prunes FILES through the manifest zone maps and bloom
    * sidecars (a file whose recorded bounds cannot hold a matching row
    * provably needs no rewrite), and the rewrite plan computes the
    * post-operation content of exactly the scanned files. The commit
    * then publishes a SUBSET rewrite: unscanned files — and their
    * stats rows — carry VERBATIM into the next generation, so one
    * selective UPDATE costs O(affected files), not a table rewrite.
    * The scan RECORDS the generation it resolved and the exact file
    * set it planned ([[SnapshotRowLevelOperation]]); the write commits
    * against that pinned base, so a concurrent commit landing
    * mid-statement makes the manifest publish fail loudly
    * (first-writer-wins) instead of being silently erased. History
    * serves pre-operation rows via time travel. The library's
    * `commitUpsert` stays the O(batch) keyed merge-on-read path;
    * predicate DELETEs keep taking the [[deleteWhere]] route.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation = {
        require(pinnedGen.isEmpty,
          s"cannot ${info.command()} a time-travel-pinned snapshot of $table; " +
            "row-level operations apply to the latest generation only")
        new SnapshotRowLevelOperation(table, tableSchema, info)
      }
    }

  /** `TRUNCATE TABLE` is refused: the interface default would route it
    * through [[deleteWhere]] with an always-true predicate and commit
    * an EMPTY generation — a manifest shape no reader contract covers
    * (schema inference and initial loads both require files). Use the
    * library's expire/vacuum retention commands instead.
    */
  override def truncateTable(): Boolean =
    throw new UnsupportedOperationException(
      "snapshot tables do not support TRUNCATE; expire/vacuum manage retention")

  override def schema(): StructType = tableSchema

  /** The table's recorded identity-partition column (the CTAS
    * `PARTITIONED BY` marker), read lazily per table handle: WRITES
    * route rows per value and record `min = max = value` zone rows;
    * READS never consult it — partition pruning is the ordinary
    * zone-map admission over those rows, so a pre-marker reader loses
    * nothing.
    */
  private lazy val partCol: Option[String] =
    try SnapshotTable.partitionColumn(SparkSession.active, table)
    catch { case _: Exception => None }

  override def partitioning(): Array[Transform] =
    partCol.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  // TRUNCATE here advertises the whole-table INSERT OVERWRITE route
  // (Spark models it as truncate-then-append through the write
  // builder's SupportsOverwriteV2); the SQL TRUNCATE TABLE statement
  // itself still routes to truncateTable(), which refuses.
  // OVERWRITE_BY_FILTER is deliberately absent: predicate-scoped
  // replaces are DELETE + INSERT on this connector.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  /** The WRITE path: `df.write.format(...).mode("append").save()` /
    * SQL `INSERT INTO` stages one parquet file per task under a
    * writer-unique attempt directory (encoded through the same public
    * Group API the readers decode with), and the driver-side commit
    * publishes them as the NEXT generation carrying the previous one's
    * files verbatim — the same append-without-rewrite,
    * first-writer-wins, manifest-as-commit-point protocol every other
    * writer uses. Two racing appends cannot both land on one
    * generation: the loser's publish throws and its staged files are
    * swept.
    *
    * `INSERT OVERWRITE` (and `mode("overwrite")`) resolves through
    * [[org.apache.spark.sql.connector.write.SupportsOverwriteV2]] for
    * the WHOLE-TABLE case only (the single always-true predicate):
    * the staged files publish as the next generation's FULL content
    * with the recorded action "overwrite" — history still serves the
    * pre-overwrite snapshots, the streaming `skipRewrites` guard
    * refuses to skip the hop (an overwrite is never content-neutral),
    * and the base generation pins at build time so a concurrent
    * commit loses loudly. Filtered overwrites (`replaceWhere`,
    * partition overwrite) are refused up front — a predicate-scoped
    * replace is [[deleteWhere]] + append semantics this connector
    * keeps as two explicit statements.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {
      private var overwriteAll = false
      private def isAll(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
          : Boolean =
        predicates.isEmpty || (predicates.length == 1 &&
          predicates.head
            .isInstanceOf[org.apache.spark.sql.connector.expressions.filter.AlwaysTrue])
      override def canOverwrite(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
          : Boolean = isAll(predicates)
      override def overwrite(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
          : WriteBuilder = {
        if (!isAll(predicates)) throw new UnsupportedOperationException(
          s"snapshot tables overwrite whole-table only; a predicate-scoped " +
            s"replace (${predicates.mkString(", ")}) is DELETE + INSERT")
        overwriteAll = true
        this
      }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          if (overwriteAll)
            new SnapshotOverwriteWrite(table, info.schema(), partCol)
          else new SnapshotBatchWrite(table, info.schema(), partCol)
        override def toStreaming: StreamingWrite = {
          if (overwriteAll) throw new UnsupportedOperationException(
            "streaming overwrite is not supported; the streaming sink's " +
              "epoch-aligned replace protocol owns replays")
          new SnapshotStreamingWrite(table, info.schema(), partCol)
        }
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val skipRewrites = options.getBoolean("skipRewrites", false)
    // Batch reads default to the latest snapshot; `generation` is the
    // connector's time-travel knob. A catalog-resolved `VERSION AS OF`
    // table arrives with the generation pinned at load time instead
    // ([[SnapshotCatalog.loadTable]]); an explicit option wins.
    val generation = Option(options.get("generation")).map(_.toLong)
      .orElse(pinnedGen)
    // Admission control: cap how many generation hops one micro-batch
    // may cover (the maxFilesPerTrigger analogue) — a consumer starting
    // against a long history backfills in bounded batches instead of
    // one giant initial batch.
    val maxGensPerBatch = options.getLong("maxGensPerBatch", Long.MaxValue)
    require(maxGensPerBatch > 0, "maxGensPerBatch must be positive")
    // File-level admission control for the INITIAL load: the first
    // batch of a fresh consumer otherwise plans the WHOLE snapshot —
    // against a 100 TB table that is the one batch no cluster wants.
    val maxFilesPerBatch = options.getLong("maxFilesPerBatch", Long.MaxValue)
    require(maxFilesPerBatch > 0, "maxFilesPerBatch must be positive")
    // BYTE-level admission: a file-count cap is blind to size skew
    // (one post-compaction file can be most of the table), so the
    // initial load can also cap each chunk by the manifest's RECORDED
    // per-file bytes — the maxBytesPerTrigger analogue, with no extra
    // I/O at offset time. A single file over the cap still ships
    // alone (progress over strictness); the two caps compose.
    val maxBytesPerBatch = options.getLong("maxBytesPerBatch", Long.MaxValue)
    require(maxBytesPerBatch > 0, "maxBytesPerBatch must be positive")
    // STARTING OFFSET (the Delta startingVersion/startingTimestamp
    // idiom): a new consumer of a 100 TB table almost never wants the
    // genesis backfill — `startingGeneration` begins DELIVERY at that
    // generation (its hop is the manifest diff against gen−1, so
    // history before it is never read); `startingTimestamp` (epoch ms)
    // resolves to the earliest generation committed AT OR AFTER it
    // through the manifest `.ts=` markers — never file mtimes. The
    // two are mutually exclusive; resolution happens at stream START
    // (the offset checkpoint owns the position afterwards).
    val startingGeneration = Option(options.get("startingGeneration"))
      .map(_.toLong)
    val startingTimestamp = Option(options.get("startingTimestamp"))
      .map(_.toLong)
    require(startingGeneration.isEmpty || startingTimestamp.isEmpty,
      "startingGeneration and startingTimestamp are mutually exclusive")
    require(startingGeneration.forall(_ >= 1L),
      "startingGeneration must be >= 1")
    // Column pruning reaches the decoders: readers convert only the
    // pruned schema's fields, and the columnar reader never fetches an
    // unrequested column's pages. Predicate pushdown is V2 only
    // ([[SnapshotScanBuilder]]): the pushed conjuncts translate once
    // into [[PushedPredicates]], batch planning admits files through
    // the manifest zone maps and bloom sidecars, and the readers skip
    // row groups off footer statistics. Every predicate is ALSO a
    // residual, so correctness never rests on the stats.
    new SnapshotScanBuilder(tableSchema)
        with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit
        with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
      override def pushPredicates(
          predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
        // Telemetry freshness: a filtered statement never reaches
        // pushAggregation (Spark blocks aggregate pushdown under
        // residual filters), so the per-table log would otherwise
        // retain a stale 'true' from an earlier unfiltered count —
        // record the refusal HERE so the entry always reflects the
        // most recent statement that planned this table.
        if (predicates.nonEmpty)
          SnapshotSource.recordCountPushdown(table, served = false)
        super.pushPredicates(predicates)
      }

      // LIMIT pushdown as a FILE-COUNT prune: `SELECT ... LIMIT n`
      // with no filters plans only enough files (by the manifest's
      // recorded row counts) to cover n rows — on a 100k-file table a
      // preview query plans one file, not the table. PARTIAL by
      // contract (Spark keeps its own Limit on top; the scan must only
      // deliver AT LEAST n rows when the table has them), which is
      // what makes the truncation trivially sound. Refused under any
      // pushed filter (rows must be tested before they count toward
      // the limit — and Spark does not offer the pushdown past
      // residual filters anyway; the flag is defense-in-depth, the
      // count-pushdown posture).
      private var limitFiles: Option[Int] = None
      override def pushLimit(limit: Int): Boolean = {
        if (sawPredicates || limit <= 0) false
        else {
          limitFiles = Some(limit)
          true
        }
      }
      override def isPartiallyPushed(): Boolean = true

      // TopN pushdown as a FILE prune: `ORDER BY col [ASC|DESC] NULLS
      // LAST LIMIT n` drops files whose every row PROVABLY sorts after
      // the n-th (the zone-row exclusion rule in
      // [[SnapshotTable.topNAdmitted]] — "latest n events by time" is
      // the production shape, `ORDER BY ts DESC` being NULLS LAST by
      // default). PARTIAL: Spark's TakeOrderedAndProject still owns
      // the order, so pruning only shrinks I/O. NULLS FIRST orderings
      // refuse — nulls would sort ahead of every proof row, and zone
      // rows cannot bound which files hold them.
      private var topNSpec: Option[(String, Boolean, Int)] = None
      override def pushTopN(
          orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
          limit: Int): Boolean = {
        import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
        if (sawPredicates || limit <= 0 || orders.length != 1) false
        else {
          val o = orders.head
          SnapshotSource.v2Col(o.expression()) match {
            case Some(c) if o.nullOrdering() == NullOrdering.NULLS_LAST =>
              topNSpec =
                Some((c, o.direction() == SortDirection.DESCENDING, limit))
              true
            case _ => false
          }
        }
      }

      // METADATA-ANSWERED AGGREGATES, served from the manifest:
      // `SELECT count(*) FROM t` sums the recorded per-file row counts
      // (chain-folded for segments), and bare `MIN(col)` / `MAX(col)`
      // on a zone-map-covered column fold the per-file [lo, hi] —
      // either way one driver-side manifest resolution, no data file
      // opened, no task scheduled beyond the one-row local scan; any
      // combination of the three shapes in one statement
      // (`SELECT min(k), max(k), count(*)`) serves together. STRICTLY
      // guarded — any of these refuses the WHOLE statement and the
      // normal scan answers the honest way: ANY filter Spark pushed at
      // all (rows must be tested), merge-on-read tombstones (recorded
      // stats include rows the anti-join hides), a grouped aggregate,
      // any file without a recorded count (COUNT), any possibly
      // non-empty file without a zone row for the column (MIN/MAX —
      // one uncovered file could hold the true extremum), or a column
      // type outside the exact physical-long domain. MEMOIZED per
      // statement: the lazy val pins the snapshot ONCE at the first
      // offer, so the supportCompletePushDown → pushAggregation pair
      // can never straddle a concurrent commit (and pays one
      // resolution, not two).
      private var pushedAgg: Option[(StructType, Array[Any])] = None
      private lazy val aggBase: Option[(Long, Boolean)] =
        try {
          val spark = SparkSession.active
          val gens = SnapshotTable.generations(spark, table)
          if (gens.isEmpty) None
          else {
            val gen = generation.getOrElse(gens.max)
            if (!gens.contains(gen)) None
            else {
              val (_, dels, seg) = SnapshotTable.tailEntries(spark, table, gen)
              if (dels.nonEmpty) None else Some((gen, seg))
            }
          }
        } catch { case _: Exception => None }
      private lazy val statsCount: Option[Long] =
        aggBase.flatMap { case (gen, seg) =>
          try {
            val rec =
              SnapshotTable.statsFor(SparkSession.active, table, gen, seg)
            if (rec.nonEmpty && rec.values.forall(_._1.isDefined))
              Some(rec.values.map(_._1.get).sum)
            else None
          } catch { case _: Exception => None }
        }
      // Per-column zone fold, memoized against the SAME pinned
      // snapshot (segments record no zone maps — refuse there).
      private val zoneCache =
        scala.collection.mutable.Map.empty[String, Option[(Long, Long)]]
      private def zoneOf(c: String): Option[(Long, Long)] =
        zoneCache.getOrElseUpdate(c, aggBase.flatMap { case (gen, seg) =>
          if (seg) None
          else try SnapshotTable.columnMinMax(SparkSession.active, table, gen, c)
          catch { case _: Exception => None }
        })
      /** A folded physical long back as the column's Catalyst-internal
        * value — [[PushedPredicates.physicalLong]]'s exact inverse for
        * the types zone maps record; anything else refuses.
        */
      private def internalOf(dt: DataType, v: Long): Option[Any] = dt match {
        case LongType | TimestampType | TimestampNTZType => Some(v)
        case IntegerType | DateType
            if v >= Int.MinValue && v <= Int.MaxValue => Some(v.toInt)
        case d: DecimalType if d.precision <= 18 =>
          Some(org.apache.spark.sql.types.Decimal(v, d.precision, d.scale))
        case _ => None
      }
      private def isBareCount(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Boolean =
        agg.groupByExpressions().isEmpty &&
          agg.aggregateExpressions().length == 1 &&
          agg.aggregateExpressions().head
            .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
      private def serveAgg(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Option[(StructType, Array[Any])] = {
        import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
        if (sawPredicates || agg.groupByExpressions().nonEmpty) return None
        val exprs = agg.aggregateExpressions()
        if (exprs.isEmpty) return None
        def minMax(col: org.apache.spark.sql.connector.expressions.Expression,
            hi: Boolean, label: String): Option[(StructField, Any)] =
          for {
            c <- SnapshotSource.v2Col(col)
            dt <- tableSchema.fields.find(_.name == c).map(_.dataType)
            zm <- zoneOf(c)
            v <- internalOf(dt, if (hi) zm._2 else zm._1)
          } yield (StructField(s"$label($c)", dt, nullable = true), v)
        val served = exprs.toSeq.map {
          case _: CountStar => statsCount.map(n =>
            (StructField("count(*)", LongType, nullable = false), n: Any))
          case m: Min => minMax(m.column, hi = false, "min")
          case m: Max => minMax(m.column, hi = true, "max")
          case _ => None
        }
        if (served.forall(_.isDefined)) {
          val rows = served.flatten
          Some((StructType(rows.map(_._1)), rows.map(_._2).toArray))
        } else None
      }
      override def supportCompletePushDown(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Boolean = serveAgg(agg).isDefined
      override def pushAggregation(
          agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
          : Boolean = {
        pushedAgg = serveAgg(agg)
        // Telemetry records bare-COUNT offers only: an unrelated
        // pushable aggregate must not overwrite a prior count verdict
        // with a spurious refusal.
        if (isBareCount(agg))
          SnapshotSource.recordCountPushdown(table, pushedAgg.isDefined)
        pushedAgg.isDefined
      }

      // SupportsRuntimeV2Filtering: a join's build-side keys prune
      // files through the same zone-map/bloom machinery as
      // compile-time pushdown, after the build side executes (DPP for
      // a file-granular table format). The row-level operation scan
      // advertises it too ([[SnapshotRowLevelOperation]]) — soundly,
      // because Spark's RowLevelOperationRuntimeGroupFiltering rule
      // only injects the dynamic group filter when the command's
      // group-filter condition is non-trivial, and RewriteMergeIntoTable
      // degrades that condition to TRUE exactly when NOT-MATCHED-BY-
      // SOURCE arms exist (every group is touched then, so no filter
      // fires); the drills pin both directions.
      override def build(): Scan = pushedAgg match {
        case Some((aggSchema, values)) =>
          // The pushed COUNT/MIN/MAX row: a one-row driver-local
          // relation — the whole statement's data path.
          new org.apache.spark.sql.connector.read.LocalScan {
            override def rows(): Array[InternalRow] =
              Array(new GenericInternalRow(values))
            override def readSchema(): StructType = aggSchema
            override def description(): String =
              s"SnapshotAggFromStats($table)"
          }
        case None => buildScan()
      }

      private def buildScan(): Scan = new Scan
          with org.apache.spark.sql.connector.read.SupportsReportStatistics
          with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
          with org.apache.spark.sql.connector.read.SupportsReportPartitioning {
        override def readSchema(): StructType = required
        override def description(): String = s"SnapshotSource($table)"
        // Storage-partitioned joins: key-grouped over the identity
        // partition column when the whole scan can serve one partition
        // per value ([[SnapshotBatch.outputPartitioning]]).
        override def outputPartitioning()
            : org.apache.spark.sql.connector.read.partitioning.Partitioning =
          batch.outputPartitioning()
        override def filterAttributes()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          batch.indexedColumns()
            .map(org.apache.spark.sql.connector.expressions.Expressions.column)
            .toArray
        override def filter(
            predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
            : Unit =
          batch.applyRuntimeFilters(predicates)
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SnapshotMicroBatchStream(table, required, skipRewrites,
            maxGensPerBatch, maxFilesPerBatch, maxBytesPerBatch,
            startingGeneration, startingTimestamp,
            SnapshotSource.aliasMapOf(tableSchema))
        private val batch = new SnapshotBatch(table, required, generation,
          pushed, SnapshotSource.aliasMapOf(tableSchema), limitFiles, topNSpec)
        override def toBatch: Batch = batch
        // POST-PRUNING size estimate, served from the MANIFEST's
        // recorded per-file stats (one manifest read covers every
        // planned file — zero per-file driver I/O at scan planning,
        // the property that keeps a 100k-file table's planning flat):
        // what lets Catalyst AUTO-BROADCAST a small snapshot table in
        // a SQL join — without it DSv2 defaults to "unknown = huge"
        // and every join against a catalog table sort-merges. Legacy
        // lineages (pre-recording manifests, segmented chains) fall
        // back to one getFileStatus per planned file. Advisory only:
        // any resolution failure degrades to unknown and the real
        // error surfaces at planInputPartitions, where it belongs.
        override def estimateStatistics()
            : org.apache.spark.sql.connector.read.Statistics =
          new org.apache.spark.sql.connector.read.Statistics {
            private lazy val est: (java.util.OptionalLong, java.util.OptionalLong) =
              try {
                val spark = SparkSession.active
                val (gen, files, segmented) = batch.resolvePlan(record = false)
                // Segmented chains fold each segment's recorded rows
                // during the SAME walk that resolved the file set, so
                // the O(batch)-commit layout keeps O(1)-per-file-free
                // planning too (the r18 gap: they used to fall through
                // to one driver getFileStatus per planned file). ONE
                // resolution policy, shared with the count pushdown.
                val recorded =
                  SnapshotTable.statsFor(spark, table, gen, segmented)
                val sizes = files.map(f => recorded.get(f).flatMap(_._2))
                if (sizes.forall(_.isDefined)) {
                  SnapshotSource.recordStatsSource(table, fromManifest = true)
                  val rows = files.map(f => recorded.get(f).flatMap(_._1))
                  (java.util.OptionalLong.of(sizes.flatten.sum),
                    if (rows.forall(_.isDefined))
                      java.util.OptionalLong.of(rows.flatten.sum)
                    else java.util.OptionalLong.empty())
                } else {
                  SnapshotSource.recordStatsSource(table, fromManifest = false)
                  val conf = spark.sparkContext.hadoopConfiguration
                  (java.util.OptionalLong.of(files.map { f =>
                    val p = new org.apache.hadoop.fs.Path(f)
                    p.getFileSystem(conf).getFileStatus(p).getLen
                  }.sum), java.util.OptionalLong.empty())
                }
              } catch { case _: Exception =>
                (java.util.OptionalLong.empty(), java.util.OptionalLong.empty())
              }
            override def sizeInBytes(): java.util.OptionalLong = est._1
            override def numRows(): java.util.OptionalLong = est._2
          }
      }
    }
  }
}

/** The pushdown both snapshot scan builders (the table's and the
  * row-level operation's) share: column pruning, and V2 predicate
  * pushdown translated ONCE into [[PushedPredicates]]. Pruning is
  * best-effort and every predicate is ALSO returned as a residual, so
  * Spark re-applies it row by row and correctness never rests on the
  * stats.
  */
private[streaming] abstract class SnapshotScanBuilder(tableSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownV2Filters {
  protected var required: StructType = tableSchema
  protected var pushed: PushedPredicates = PushedPredicates.empty
  // Whether Spark pushed ANY predicate at all — including ones the
  // translation ignores: the count/limit/TopN pushdowns must refuse on
  // this flag, not on the translated subset, or a future change that
  // CONSUMES an untranslated predicate would silently serve unfiltered
  // rows.
  protected var sawPredicates = false
  private var translated
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushPredicates(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    sawPredicates = predicates.nonEmpty
    translated = predicates.filter(p =>
      PushedPredicates.of(Array(p), tableSchema).nonEmpty)
    pushed = PushedPredicates.of(translated, tableSchema)
    predicates
  }

  override def pushedPredicates()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    translated
}

/** Batch scan AS OF a generation (latest by default): the planned
  * partitions are exactly the manifest's files — the same snapshot
  * isolation [[SnapshotTable.readAs]] provides, but through the
  * connector's own readers, which puts the custom parquet decode path
  * inside the value-oracle gate (`src_connector_read`).
  */
private[streaming] class SnapshotBatch(table: String, schema: StructType,
    generation: Option[Long],
    pushed: PushedPredicates = PushedPredicates.empty,
    aliases: Map[String, Seq[String]] = Map.empty,
    limit: Option[Int] = None,
    topN: Option[(String, Boolean, Int)] = None) extends Batch {

  // RUNTIME filters (SupportsRuntimeV2Filtering): predicates from a
  // join's build side AFTER it executes, conjoined with the
  // compile-time pushdown before planning. Sound for the same reason
  // the static filters are: both only SKIP files their conjunct proves
  // row-free, and Spark still evaluates the join itself row-level.
  // Spark only offers them on [[indexedColumns]], all in `schema`.
  @volatile private var runtime: PushedPredicates = PushedPredicates.empty

  private[streaming] def applyRuntimeFilters(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit =
    runtime = PushedPredicates.of(predicates, schema)

  /** STORAGE-PARTITIONED-JOIN grouping: `(column, int-width, value →
    * files)` when this scan can be served as one input partition per
    * identity-partition VALUE — the shape that lets Spark's
    * key-grouped execution join two tables partitioned on the same
    * column with ZERO shuffle on either side. Advertised only for the
    * pristine full-table scan (no pushdown truncations — the common
    * fact-join shape) on a generation where EVERY planned file carries
    * a point zone row on the partition column (a null-partition or
    * DML-rewritten file without one refuses the grouping, never
    * mis-keys it). Resolution is advisory (None on any failure) and
    * NON-recording — planInputPartitions records the real planning.
    */
  private lazy val spjPlan: Option[(String, Boolean, Seq[(Long, Seq[String])])] =
    try {
      val spark = SparkSession.active
      // Gated on the session's SPJ opt-in: without it Spark ignores
      // the reported partitioning anyway, and a pristine scan should
      // keep one partition PER FILE — collapsing to one-per-value
      // would cap parallelism at the value count for no benefit.
      if (pushed.nonEmpty || limit.isDefined || topN.isDefined ||
          !spark.sessionState.conf.v2BucketingEnabled) None
      else {
        SnapshotTable.partitionColumn(spark, table) match {
          case Some(c) if schema.fieldNames.contains(c) =>
            val intWidth: Option[Boolean] =
              schema.fields(schema.fieldIndex(c)).dataType match {
                case IntegerType | DateType => Some(true)
                case LongType => Some(false)
                case _ => None
              }
            intWidth.flatMap { isInt =>
              val (gen, files, seg) = resolvePlan(record = false)
              if (seg || files.isEmpty) None
              else {
                val vals = SnapshotTable.partitionValues(spark, table, gen, c)
                if (files.forall(vals.contains))
                  Some((c, isInt, files.groupBy(vals).toSeq.sortBy(_._1)
                    .map { case (v, fs) => (v, fs.sorted) }))
                else None
              }
            }
          case _ => None
        }
      }
    } catch { case _: Exception => None }

  /** What the Scan reports: key-grouped over the identity transform
    * when [[spjPlan]] holds, unknown otherwise (Spark ignores the
    * unknown case and derives its own).
    */
  private[streaming] def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjPlan match {
      case Some((c, _, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.identity(c)),
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Columns the manifest's zone maps or bloom sidecars can prune on
    * at the CURRENTLY-resolved generation — what the scan advertises
    * as runtime-filterable. Advisory: failures degrade to none.
    */
  private[streaming] def indexedColumns(): Seq[String] =
    try {
      val spark = SparkSession.active
      val gens = SnapshotTable.generations(spark, table)
      if (gens.isEmpty) return Seq.empty
      val statCols = SnapshotTable.statColumns(spark, table,
        generation.getOrElse(gens.max))
      val bloomCols = SnapshotTable.bloomColumns(spark, table)
      (statCols ++ bloomCols).distinct.filter(c =>
        schema.fieldNames.contains(c))
    } catch { case _: Exception => Seq.empty }

  /** The planning core, shared with [[planInputPartitions]] and the
    * row-level operations' RECORDING scan: `(resolved generation,
    * planned file list, segmented)`. Split out so a caller that must
    * know EXACTLY which snapshot and files the scan served (the
    * UPDATE/MERGE subset-rewrite commit) reads the same resolution the
    * partitions came from, never a re-resolution that a concurrent
    * commit could have moved.
    */
  def resolvePlan(): (Long, Seq[String], Boolean) = resolvePlan(record = true)

  /** `record = false` for ADVISORY callers (statistics estimation):
    * their resolutions are not executions and must not pollute the
    * planning telemetry the pruning gates read.
    */
  /** The snapshot this Scan serves, resolved ONCE per Scan: the SPJ
    * path resolves at outputPartitioning time (the group map) and
    * again at planInputPartitions (runtime filters applied) — a
    * commit landing between the two must not move `gens.max`, or the
    * newer generation's files would belong to no group and silently
    * drop from the scan (the aggregate path's aggBase memoization,
    * applied to the file path).
    */
  private lazy val pinnedGen: Long = {
    val spark = SparkSession.active
    val gens = SnapshotTable.generations(spark, table)
    require(gens.nonEmpty, s"no committed generation at $table")
    val gen = generation.getOrElse(gens.max)
    require(gens.contains(gen), s"generation $gen of $table does not exist")
    gen
  }

  def resolvePlan(record: Boolean): (Long, Seq[String], Boolean) = {
    val spark = SparkSession.active
    val gen = pinnedGen
    // A SEGMENTED generation serves its chain-resolved file set:
    // resolution's own guards refuse tombstoned or otherwise non-data
    // segments, and zone-map pruning is best-effort by contract
    // (segments record no stats; the residual row filters keep
    // correctness exactly as with an unrecorded column).
    val (_, _, segmented) = SnapshotTable.tailEntries(spark, table, gen)
    if (segmented)
      return (gen, SnapshotTable.resolvedFiles(spark, table, gen), true)
    // A merge-on-read generation's visibility is data MINUS tombstone
    // keys; a file-level scan cannot apply that and serving the raw
    // data files would silently resurrect deleted rows — fail loudly
    // (the table-aware read is SnapshotTable.readMor).
    if (SnapshotTable.listDeleteFiles(spark, table, gen).nonEmpty)
      throw new IllegalStateException(
        s"generation $gen of $table carries merge-on-read tombstones; a " +
          "file-level batch scan would return deleted rows - read it via " +
          "SnapshotTable.readMor, or materialize the generation first")
    // File admission over the compile-time and runtime conjunction
    // (zone maps, then bloom sidecars). Both indexes are best-effort
    // and every filter is also a residual, so correctness never rests
    // on either; an unsatisfiable probe conjunction plans zero files.
    val rt = runtime
    val filtered = pushed.and(rt).admittedFiles(spark, table, gen)
    // PUSHED-TOPN file exclusion (mutually exclusive with a pushed
    // bare limit — Spark offers one or the other): drop files whose
    // every row provably sorts after the n-th. Same runtime-filter
    // guard as the limit truncation below.
    val topAdmitted = topN match {
      case Some((c, desc, n)) if rt.isEmpty =>
        SnapshotTable.topNAdmitted(spark, table, gen, c, desc, n, filtered)
      case _ => filtered
    }
    // PUSHED-LIMIT truncation: plan only enough files (by recorded row
    // counts) to cover the limit. Sound because the pushdown is
    // PARTIAL — Spark's own Limit still runs on top, so the scan only
    // has to deliver AT LEAST n rows when the snapshot has them, and a
    // prefix of the sorted immutable list covering ≥ n recorded rows
    // does exactly that. Skipped whenever a runtime filter landed (a
    // limit adjacent to the scan has no join to inject one — if both
    // somehow appear, planning everything is the safe direction) or
    // any admitted file lacks a recorded count.
    val admitted = limit match {
      case Some(n) if rt.isEmpty && topAdmitted.nonEmpty =>
        val rec = SnapshotTable.recordedFileStats(spark, table, gen)
        val counts = topAdmitted.map(f => rec.get(f).flatMap(_._1))
        if (counts.forall(_.isDefined)) {
          val cum = counts.map(_.get).scanLeft(0L)(_ + _).tail
          val keep = cum.indexWhere(_ >= n.toLong) match {
            case -1 => topAdmitted.size
            case i => i + 1
          }
          topAdmitted.take(keep)
        } else topAdmitted
      case _ => topAdmitted
    }
    if (record)
      SnapshotSource.recordPlan(table, admitted.size, rt.nonEmpty)
    (gen, admitted, false)
  }

  override def planInputPartitions(): Array[InputPartition] = spjPlan match {
    case Some((_, isInt, groups)) =>
      // Key-grouped serving: one partition per identity value, every
      // group kept (a runtime-filtered-empty group still ships, with
      // zero files — reader yields nothing) so the reported
      // KeyGroupedPartitioning's partition count stays exact.
      val admitted = resolvePlan()._2.toSet
      groups.map { case (v, fs) =>
        SnapshotKeyedPartition(fs.filter(admitted), v, isInt): InputPartition
      }.toArray
    case None =>
      resolvePlan()._2.map(SnapshotFilePartition(_)).toArray
  }

  // The factory carries the MERGED (compile-time + runtime) conjunction
  // so the task-side readers can extend the same pruning one level
  // deeper: row groups inside admitted files.
  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(schema, SnapshotSource.sessionConf(),
      pushed.and(runtime), aliases)
}

/** Offset state. `pos == 0`: the consumer holds the full content of
  * generations ≤ `gen` (the original form; the JSON stays the bare
  * generation number, so pre-chunking checkpoints deserialize
  * unchanged). `pos > 0`: the consumer is MID-INITIAL-LOAD of
  * generation `gen` exactly, `pos` files of its sorted immutable
  * manifest list delivered — pinning the generation in the offset is
  * what makes an `expire` during a chunked load fail LOUDLY
  * (generation gone → retention outran the stream) instead of
  * silently re-slicing a different generation's file list.
  */
private[streaming] case class GenOffset(gen: Long, pos: Long = 0L)
    extends Offset {
  override def json(): String = if (pos == 0L) gen.toString else s"$gen:$pos"
}

private[streaming] object GenOffset {
  def parse(json: String): GenOffset = json.split(":") match {
    case Array(g) => GenOffset(g.toLong)
    case Array(g, p) => GenOffset(g.toLong, p.toLong)
  }
}

private[streaming] class SnapshotMicroBatchStream(table: String,
    schema: StructType, skipRewrites: Boolean,
    maxGensPerBatch: Long = Long.MaxValue,
    maxFilesPerBatch: Long = Long.MaxValue,
    maxBytesPerBatch: Long = Long.MaxValue,
    startingGeneration: Option[Long] = None,
    startingTimestamp: Option[Long] = None,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  /** The offset a FRESH consumer starts from (a checkpointed query
    * never asks — its offset log owns the position). Delivery begins
    * at the resolved generation: the initial offset is resolved − 1,
    * whose first hop is the manifest diff gen−1 → gen. Starting at or
    * below the earliest surviving generation degrades to the normal
    * full initial load (offset 0); a timestamp after every commit (or
    * a generation just past the latest) starts with only FUTURE
    * commits. Pre-recording (unstamped) lineages refuse timestamp
    * resolution exactly like the catalog's TIMESTAMP AS OF.
    */
  override def initialOffset(): Offset = {
    val gens = SnapshotTable.generations(spark, table)
    val resolved: Option[Long] = startingGeneration.map { g =>
      // The bound holds on an EMPTY lineage too (only g == 1 is
      // admissible then): an offset resolved above the next commit
      // would later regress through nextOffset's floor and silently
      // deliver the history the start was supposed to skip.
      require(g <= gens.maxOption.getOrElse(0L) + 1L,
        s"startingGeneration $g of $table is beyond the next commit " +
          s"(latest: ${gens.maxOption.getOrElse(0L)})")
      g
    }.orElse(startingTimestamp.map { ts =>
      // Shared resolution policy (SnapshotTable.stampedGenerations):
      // a part-stamped legacy lineage refuses rather than
      // part-resolves — use startingGeneration there instead.
      SnapshotTable.stampedGenerations(spark, table)
        .collectFirst { case (g, ms) if ms >= ts => g }
        .getOrElse(gens.maxOption.getOrElse(0L) + 1L)
    })
    resolved match {
      // Degrade to the normal full initial load ONLY when it delivers
      // exactly what was asked: g == gens.min (the load IS that
      // generation's snapshot) or g == 1 (start at genesis — the full
      // load is the closest surviving answer by definition). A start
      // STRICTLY BETWEEN genesis and the earliest surviving generation
      // names expired history this consumer wanted to skip FROM — the
      // full load would silently over-deliver the expired prefix's
      // content, so it fails loudly instead (Delta's unreplayable
      // startingVersion posture).
      case Some(g) if gens.nonEmpty && (g == gens.min || g == 1L) =>
        GenOffset(0L)
      case Some(g) if gens.nonEmpty && g < gens.min =>
        throw new IllegalStateException(
          s"startingGeneration $g of $table is no longer replayable: the " +
            s"earliest surviving generation is ${gens.min} (retention " +
            "outran the requested start); start at the surviving history " +
            s"explicitly (startingGeneration ${gens.min} or 1 for a full " +
            "initial load)")
      case Some(g) => GenOffset(g - 1L)
      case None => GenOffset(0L)
    }
  }

  /** `Trigger.AvailableNow` backfill target, pinned ONCE at query
    * start: the run drains history up to here in the same rate-limited
    * hops a continuous run would take, then stops on its own;
    * generations committed after the pin belong to the NEXT run (the
    * next run's checkpoint restart picks them up incrementally). Null
    * when the query runs under a normal trigger.
    */
  @volatile private var availableNowTarget: GenOffset = null

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowTarget = latestOffset().asInstanceOf[GenOffset]
  }

  /** Clamp an offset candidate to the pinned AvailableNow target (a
    * no-op under normal triggers). A mid-initial-load position within
    * the target generation is inside the target by definition.
    */
  private def clampToTarget(o: GenOffset): GenOffset = {
    val t = availableNowTarget
    if (t == null || o.gen < t.gen || (o.gen == t.gen && o.pos > 0L)) o
    else if (o.gen > t.gen) t
    else o
  }

  override def latestOffset(): Offset = {
    val gens = SnapshotTable.generations(spark, table)
    GenOffset(if (gens.isEmpty) 0L else gens.max)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Rate-limited offset selection: one micro-batch advances at most
    * [[maxGensPerBatch]] generations past `start`, so a consumer
    * pointed at a deep history catches up in bounded steps — and with
    * [[maxFilesPerBatch]] set, the INITIAL full-snapshot load itself
    * serves in bounded file chunks (the maxFilesPerTrigger analogue at
    * the file level: against a 100 TB table the first batch plans N
    * files, never the table). Chunk boundaries are indices into the
    * initial generation's SORTED manifest list, which is immutable —
    * so a restarted query replanning a chunk from its checkpoint sees
    * byte-identical files.
    */
  /** The initial-load generation's manifest entries, parsed ONCE per
    * stream instance: the list is immutable by the layer's contract,
    * and a chunked load would otherwise re-parse and re-sort the whole
    * manifest twice per chunk (latestOffset + planInputPartitions) —
    * O(files²/chunk) driver work at exactly the many-file scale the
    * chunking exists for.
    */
  private val initEntries =
    new java.util.concurrent.ConcurrentHashMap[Long, (Seq[String], Seq[String])]()
  // A segmented load's recorded stats, captured DURING the same chain
  // walk that resolved its file list — initBytesOf must never pay a
  // second O(chain) manifest walk for the stats the first walk
  // already carried.
  private val initStats = new java.util.concurrent.ConcurrentHashMap[
    Long, Map[String, (Option[Long], Option[Long])]]()
  private def initEntriesOf(g: Long): (Seq[String], Seq[String]) =
    initEntries.computeIfAbsent(g, g => {
      // An initial load serves the generation's FULL content: a
      // segmented generation chain-resolves (sorted, immutable —
      // chunked replay stays byte-identical); resolution's own guards
      // refuse tombstoned segments.
      val (d, t, seg) = SnapshotTable.tailEntries(spark, table, g)
      if (seg) {
        val rows = SnapshotTable.resolvedDataRows(spark, table, g)
        initStats.put(g, rows.map(r => r._1 -> ((r._2, r._3))).toMap)
        (rows.map(_._1), t)
      } else (d, t)
    })

  /** Per-file bytes of the initial-load generation, aligned with
    * [[initEntriesOf]]'s sorted list — from the manifest's RECORDED
    * stats (a segmented chain's were folded during the resolution walk
    * above; a full-carry generation pays ONE manifest read, and only
    * when a byte cap is actually set), so byte-capped offset math
    * costs no per-file I/O; only legacy pre-recording rows fall back
    * to one `getFileStatus` each, computed once per stream instance.
    */
  private val initBytes =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Long]]()
  private def initBytesOf(g: Long): Array[Long] =
    initBytes.computeIfAbsent(g, g => {
      val files = initEntriesOf(g)._1
      val rec = Option(initStats.get(g)).getOrElse(
        SnapshotTable.recordedFileStats(spark, table, g))
      val conf = spark.sparkContext.hadoopConfiguration
      files.map { f =>
        rec.get(f).flatMap(_._2).getOrElse {
          val p = new org.apache.hadoop.fs.Path(f)
          // A file expired mid-load surfaces the stream's OWN
          // diagnostic (the nextOffset guard's wording), not a raw
          // FileNotFoundException from the legacy per-file fallback.
          try p.getFileSystem(conf).getFileStatus(p).getLen
          catch { case _: java.io.FileNotFoundException =>
            throw new IllegalStateException(
              s"initial-load generation $g of $table was expired " +
                "mid-load - retention outran the stream's replayable " +
                s"window (missing data file: $f)")
          }
        }
      }.toArray
    })

  /** The offset ending one initial-load chunk that starts at `from` of
    * generation `g`'s sorted immutable list: bounded by the FILE cap
    * and, when set, the BYTE cap over the recorded per-file bytes —
    * always admitting at least one file, so a single over-cap file
    * (the post-compaction giant) ships alone instead of wedging the
    * stream. Returns the complete-load offset `(g, 0)` when the chunk
    * reaches the end of the list.
    */
  private def chunkOffset(g: Long, from: Long): GenOffset = {
    val total = initEntriesOf(g)._1.size.toLong
    var hi = math.min(total,
      if (Long.MaxValue - from < maxFilesPerBatch) Long.MaxValue
      else from + maxFilesPerBatch)
    if (maxBytesPerBatch < Long.MaxValue) {
      val bytes = initBytesOf(g)
      var i = from
      var acc = 0L
      var stop = false
      while (i < hi && !stop) {
        val b = bytes(i.toInt)
        if (i == from || acc + b <= maxBytesPerBatch) { acc += b; i += 1 }
        else stop = true
      }
      hi = i
    }
    if (hi >= total) GenOffset(g) else GenOffset(g, hi)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    clampToTarget(nextOffset(start.asInstanceOf[GenOffset]))

  private def nextOffset(s: GenOffset): GenOffset = {
    val gens = SnapshotTable.generations(spark, table)
    // No committed generation: HOLD position, never regress — an
    // offset moving backwards would re-deliver (or newly deliver)
    // history a starting offset or an expire already put behind the
    // consumer.
    if (gens.isEmpty) return GenOffset(math.max(0L, s.gen))
    val latest = gens.max
    if (s.pos > 0L) {
      // Mid-initial-load of EXACTLY s.gen: advance within its file
      // list; the chunk that reaches the end completes the load as
      // (s.gen, 0). The pinned generation must still exist.
      if (!gens.contains(s.gen))
        throw new IllegalStateException(
          s"initial-load generation ${s.gen} of $table was expired " +
            "mid-load - retention outran the stream's replayable window")
      return chunkOffset(s.gen, s.pos)
    }
    if (s.gen == 0L &&
        (maxFilesPerBatch < Long.MaxValue || maxBytesPerBatch < Long.MaxValue)) {
      // Fresh consumer under a file or byte cap: open the chunked load
      // of the earliest surviving generation, pinning it in the offset.
      return chunkOffset(gens.min, 0L)
    }
    val from = s.gen
    // Saturating add: the unlimited default is Long.MaxValue.
    val cap = if (Long.MaxValue - from < maxGensPerBatch) Long.MaxValue
      else from + maxGensPerBatch
    // A FRESH consumer (offset 0) must take its first hop to at least
    // the earliest SURVIVING generation: on a table whose history
    // prefix was expired, a cap below committed.min would advance the
    // offset through the expired prefix in empty hops, and the next
    // batch (from > 0) could no longer claim planInputPartitions'
    // initial-full-load branch — a spurious "retention outran the
    // stream" failure for a consumer that has consumed nothing.
    val floor = if (from == 0L && gens.nonEmpty) gens.min else 0L
    GenOffset(math.min(latest, math.max(cap, floor)))
  }

  override def deserializeOffset(json: String): Offset = GenOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GenOffset]
    val e = end.asInstanceOf[GenOffset]
    val committed = SnapshotTable.generations(spark, table)
    // ONE manifest read per generation touched by this batch: adjacent
    // hops share g's entries as the next hop's g−1, so a deep backfill
    // span pays span+1 manifest reads, not ~4 per hop.
    val entries =
      scala.collection.mutable.Map.empty[Long, (Seq[String], Seq[String], Boolean)]
    def of(g: Long): (Seq[String], Seq[String], Boolean) =
      entries.getOrElseUpdate(g, SnapshotTable.tailEntries(spark, table, g))
    // A diff against a SEGMENTED parent needs the parent's resolved
    // content (its own manifest lists only its batch) — walked at most
    // once per batch and only when a full-carry commit follows
    // segments (the checkpoint hop).
    def resolvedOf(g: Long): Seq[String] = {
      val (d, _, seg) = of(g)
      if (seg) SnapshotTable.resolvedFiles(spark, table, g) else d
    }
    val out = ArrayBuffer.empty[InputPartition]
    var from = s.gen
    // The INITIAL full-snapshot load — the one batch whose plan is a
    // manifest's full list rather than a diff, and (under
    // maxFilesPerBatch) the only span served in sub-generation file
    // CHUNKS: slice [s.pos, hi) of the initial generation's sorted
    // immutable list, so a checkpoint replay of any chunk is
    // byte-identical. This branch is ONLY correct for a consumer that
    // has consumed nothing (offset gen 0, or mid-load of the pinned
    // generation); a parent-less hop anywhere else fails loudly below.
    if (s.gen == 0L || s.pos > 0L) {
      // The load's target generation: pinned in whichever offset is
      // mid-load; for the unchunked (0,0) -> (g,0) span it is the
      // earliest surviving generation.
      val m = if (s.pos > 0L) s.gen
        else if (e.pos > 0L) e.gen
        else if (committed.nonEmpty) committed.min
        else 0L
      if (!committed.contains(m))
        throw new IllegalStateException(
          s"initial-load generation $m of $table was expired mid-load - " +
            "retention outran the stream's replayable window")
      // Reuse the instance-cached parse (the list is immutable); seed
      // the per-call map so the first post-load hop's diff against m
      // doesn't re-read the manifest either.
      val (data, dels) = initEntriesOf(m)
      // Seed the per-call map with the RESOLVED content (seg = false):
      // the first post-load hop's diff against m must see the full
      // snapshot m served, whether m was full-carry or segmented.
      entries(m) = (data, dels, false)
      // Tombstones carried into a full-snapshot load are row-level
      // changes invisible to a file tail — same contract as delete
      // hops: throw unless explicitly skipped.
      if (!skipRewrites && dels.nonEmpty)
        throw new IllegalStateException(
          s"generation $m of $table carries ${dels.size} merge-on-read " +
            "tombstone file(s); row-level deletes are not expressible as " +
            "appends - re-run with .option(\"skipRewrites\", \"true\") to " +
            "ignore deletes")
      val hi = if (e.pos > 0L) e.pos else data.size.toLong
      out ++= data.slice(s.pos.toInt, hi.toInt).map(SnapshotFilePartition(_))
      if (e.pos > 0L) return out.toArray
      from = m
    }
    val to = e.gen
    for (g <- from + 1 to to if committed.contains(g)) {
      val (data, dels, seg) = of(g)
      // Every full-carry hop after the initial load diffs against its
      // PARENT manifest; a missing parent means the manifest needed
      // for the diff was expired mid-consumption, and emitting g's
      // full list would re-deliver carried-forward files the consumer
      // already saw — fail loudly instead (the lakehouse "retention
      // outran the stream" error). A SEGMENTED hop needs no parent at
      // all: its own manifest IS the added set (and segments are
      // append-only, so nothing is removed and no tombstone arrives).
      val (added, removed, freshDels) =
        if (seg) {
          // Mirror resolvedFiles' append-only contract enforcement: a
          // segment manifest carrying tombstone rows is malformed, not
          // data to route into the generic delete-hop machinery below.
          require(dels.isEmpty,
            s"segment manifest of $table gen $g carries ${dels.size} " +
              "tombstone row(s) — segmented lineages are APPEND-ONLY; " +
              "deletes/upserts use the full-carry protocol")
          (data, Seq.empty[String], dels)
        }
        else if (committed.contains(g - 1)) {
          val (_, prevDels, _) = of(g - 1)
          val prevData = resolvedOf(g - 1)
          ((data.toSet -- prevData).toSeq.sorted,
            (prevData.toSet -- data).toSeq.sorted,
            dels.filterNot(prevDels.toSet))
        } else
          throw new IllegalStateException(
            s"cannot plan generation hop ${g - 1}->$g of $table: the parent " +
              "manifest was expired while this consumer still needed the " +
              "diff - retention outran the stream's replayable window")
      if (removed.nonEmpty && !skipRewrites)
        throw new IllegalStateException(
          s"generation $g of $table rewrites ${removed.size} file(s) " +
            "(compaction or merge); a file-level tail cannot express it as " +
            "appends - re-run with .option(\"skipRewrites\", \"true\") to " +
            "skip content-neutral rewrites")
      // Merge-on-read tombstones — whether added by a delete hop or
      // carried into an initial full-snapshot load — are row-level
      // changes invisible to an append tail. Same contract as
      // rewrites: throw unless explicitly skipped (the ignoreDeletes
      // analogue: the opted-in consumer keeps rows the table has
      // deleted).
      if (!skipRewrites && freshDels.nonEmpty)
        throw new IllegalStateException(
          s"generation $g of $table carries ${freshDels.size} merge-on-read " +
            "tombstone file(s); row-level deletes are not expressible as " +
            "appends - re-run with .option(\"skipRewrites\", \"true\") to " +
            "ignore deletes")
      if (removed.isEmpty) out ++= added.map(SnapshotFilePartition(_))
      else {
        // The opted-in skip is only sound for CONTENT-NEUTRAL rewrites,
        // and neutrality is decided by the commit's RECORDED ACTION,
        // not inferred from the data: compact/optimize rewrite the
        // EXACT row set by construction, so their hops drop safely (a
        // footer row-count mismatch there means corruption and throws).
        // Any OTHER recorded action that removes files (a copy-on-write
        // merge, a rollback, a whole-table replace) changes content —
        // even when row counts happen to match, as a 1:1 UPDATE does —
        // so it fails loudly (Delta's ignoreChanges re-delivers rather
        // than drops for the same reason). Hops from manifests written
        // before actions were recorded fall back to the count guard,
        // which catches net inserts/deletes but NOT count-preserving
        // value rewrites; that residual trust is what the consumer's
        // explicit skipRewrites opt-in accepts for legacy lineages.
        // The added side's counts sit in g's manifest and the removed
        // side's in the parent's (stats-recording lineages) — one map
        // lookup per file; only legacy rows pay a footer open.
        lazy val recorded: Map[String, (Option[Long], Option[Long])] =
          SnapshotTable.recordedFileStats(spark, table, g) ++
            (if (committed.contains(g - 1))
              SnapshotTable.recordedFileStats(spark, table, g - 1)
            else Map.empty)
        def rowsOf(ps: Seq[String]): Long = ps.map { p =>
          recorded.get(p).flatMap(_._1).getOrElse(
            SnapshotTable.footerRowCounts(spark, Seq(p)).head._2)
        }.sum
        SnapshotTable.commitAction(spark, table, g) match {
          case Some(a) if a == "compact" || a == "optimize" =>
            val (addedRows, removedRows) = (rowsOf(added), rowsOf(removed))
            if (addedRows != removedRows)
              throw new IllegalStateException(
                s"generation $g of $table claims to be a '$a' rewrite but " +
                  s"removes $removedRows row(s) and adds $addedRows - the " +
                  "table is corrupt; refusing to skip the hop")
          case Some(a) =>
            throw new IllegalStateException(
              s"generation $g of $table is a NON-NEUTRAL rewrite (a '$a' " +
                "commit that removes files): its content changes cannot be " +
                "expressed as appends and skipping it would silently lose " +
                "them; restart from a fresh checkpoint to reload the " +
                "snapshot, or express the change as appends")
          case None =>
            val (addedRows, removedRows) = (rowsOf(added), rowsOf(removed))
            if (addedRows != removedRows)
              throw new IllegalStateException(
                s"generation $g of $table is a NON-NEUTRAL rewrite " +
                  s"(removes $removedRows row(s), adds $addedRows): skipping " +
                  "it would silently lose the difference (a MERGE's inserts " +
                  "or a purge's deletes); restart from a fresh checkpoint to " +
                  "reload the snapshot, or express the change as appends")
        }
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SnapshotReaderFactory(schema, SnapshotSource.sessionConf(),
      aliases = aliases)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

private[streaming] case class SnapshotFilePartition(path: String) extends InputPartition

/** One IDENTITY-PARTITION group as a single input partition — the
  * storage-partitioned-join unit: all of one partition value's files,
  * exposing the value as the partition KEY so Spark's key-grouped
  * execution can co-locate two tables' matching partitions without a
  * shuffle. `isInt` mirrors the column's physical width (INT/DATE
  * vs BIGINT) so the key row's type matches the reported transform.
  */
private[streaming] case class SnapshotKeyedPartition(paths: Seq[String],
    value: Long, isInt: Boolean) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](
      if (isInt) value.toInt else value))
}

/** Sequential concatenation of per-file readers — the multi-file
  * reader a keyed partition needs. */
private[streaming] class SnapshotConcatReader[T](paths: Seq[String],
    mk: String => PartitionReader[T]) extends PartitionReader[T] {
  private var idx = 0
  private var cur: PartitionReader[T] = _
  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= paths.size) return false
        cur = mk(paths(idx))
        idx += 1
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false
  }
  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}

private[streaming] class SnapshotReaderFactory(schema: StructType,
    conf: SerializableConfiguration,
    pushed: PushedPredicates = PushedPredicates.empty,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case SnapshotFilePartition(path) =>
        new SnapshotFileReader(path, schema, conf.value, aliases)
      case SnapshotKeyedPartition(paths, _, _) =>
        new SnapshotConcatReader(paths,
          p => new SnapshotFileReader(p, schema, conf.value, aliases))
    }

  // VECTORIZED decode ([[SnapshotColumnarReader]]): projected row-group
  // reads skip unrequested columns' PAGES, values land in columnar
  // batches, and the scan's pushed predicates skip whole ROW GROUPS
  // off the footer statistics before any page I/O. The row decoder
  // stays as the fallback for types outside the flat fast path (array
  // columns); `-Dgraft.snapshot.rowDecode=true` forces it for A/B
  // debugging.
  override def supportColumnarReads(partition: InputPartition): Boolean =
    !java.lang.Boolean.getBoolean("graft.snapshot.rowDecode") &&
      SnapshotColumnarReader.supports(schema)

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case SnapshotFilePartition(path) =>
        new SnapshotColumnarReader(path, schema, conf.value,
          pushed = pushed, aliases = aliases)
      case SnapshotKeyedPartition(paths, _, _) =>
        new SnapshotConcatReader(paths,
          p => new SnapshotColumnarReader(p, schema, conf.value,
            pushed = pushed, aliases = aliases))
    }
}

private[streaming] case class SnapshotWriteMessage(path: String)
    extends WriterCommitMessage

/** Driver-side transactional append: tasks stage one parquet file each
  * under a writer-unique attempt directory; `commit` resolves the NEXT
  * generation at commit time and publishes the staged files through
  * [[SnapshotTable.publishAppend]] — the same append-without-rewrite,
  * first-writer-wins, manifest-as-commit-point protocol as every other
  * writer. A lost race (or an abort) sweeps the staged files; nothing
  * is visible to readers until the manifest rename.
  */
private[streaming] class SnapshotBatchWrite(table: String, schema: StructType,
    partCol: Option[String] = None)
    extends BatchWrite {

  private val stageDir =
    s"$table/data/staged/a=${SnapshotTable.attemptName()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    partCol match {
      case Some(c) => new PartitionedWriterFactory(stageDir, schema,
        SnapshotSource.sessionConf(), c)
      case None =>
        new SnapshotWriterFactory(stageDir, schema, SnapshotSource.sessionConf())
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = SnapshotSource.stagedOf(messages)
    val gens = SnapshotTable.generations(spark, table)
    val gen = if (gens.isEmpty) 1L else gens.max + 1
    try partCol match {
      case Some(c) => SnapshotTable.publishPartitionedFiles(spark, table, gen,
        c, files, carryFrom = gens.maxOption)
      case None => SnapshotTable.publishAppend(spark, table, gen,
        files.map(_._1), carryFrom = gens.maxOption)
    }
    catch { case e: Throwable => sweep(); throw e }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = sweep()

  private def sweep(): Unit = SnapshotSource.deleteDir(stageDir)
}

/** `INSERT OVERWRITE` / `mode("overwrite")`'s whole-table replace
  * write: staged files publish as the next generation's FULL content
  * (carrying nothing) with the recorded action "overwrite". The base
  * generation pins at WRITE CONSTRUCTION (scan-free statements have
  * no earlier resolution point), so a commit landing mid-statement
  * makes this publish lose the first-writer-wins race loudly. An
  * overwrite whose query produced ZERO rows EMPTIES the table (the
  * standard SQL / Delta / Iceberg overwrite semantic — a pipeline's
  * occasional empty replacement batch must not hard-fail): the
  * generation publishes with ONE zero-row schema-carrying parquet
  * husk, kept from the staged files (or written driver-side from the
  * statement's schema when no task staged anything), so every reader
  * contract that requires files — schema inference, initial streaming
  * loads — keeps holding while the snapshot serves zero rows.
  */
private[streaming] class SnapshotOverwriteWrite(table: String,
    schema: StructType, partCol: Option[String] = None) extends BatchWrite {

  private val stageDir =
    s"$table/data/staged/a=${SnapshotTable.attemptName()}"

  // Pinned at construction, before any task runs.
  private val baseGen: Long = {
    val gens = SnapshotTable.generations(SparkSession.active, table)
    require(gens.nonEmpty, s"INSERT OVERWRITE on an empty snapshot table $table")
    gens.max
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    partCol match {
      case Some(c) => new PartitionedWriterFactory(stageDir, schema,
        SnapshotSource.sessionConf(), c)
      case None =>
        new SnapshotWriterFactory(stageDir, schema, SnapshotSource.sessionConf())
    }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = SnapshotSource.stagedOf(messages)
    try partCol match {
      // A partition-routed overwrite with content keeps its zone rows;
      // the empty replacement degrades to the shared husk path (a husk
      // carries no partition value and admits conservatively).
      case Some(c) if files.nonEmpty =>
        SnapshotTable.publishPartitionedFiles(spark, table, baseGen + 1, c,
          files, carryFrom = None, action = "overwrite")
      case _ =>
        val publish = SnapshotSource.contentOrHusk(spark, files.map(_._1),
          stageDir, schema)
        SnapshotTable.publishAppend(spark, table, baseGen + 1, publish,
          carryFrom = None, action = "overwrite")
    } catch { case e: Throwable => sweep(); throw e }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = sweep()

  private def sweep(): Unit = SnapshotSource.deleteDir(stageDir)
}

/** What the row-level operation's scan RESOLVED and PLANNED — the
  * contract between the statement's read and write halves: `gen` is
  * the base generation the rewrite content derives from (the commit
  * publishes to `gen + 1`, so a concurrent commit loses loudly instead
  * of being erased by a re-resolved `max + 1`), `files` the EXACT file
  * set the scan planned (everything else carries verbatim — publishing
  * more than the scanned set would silently delete every row of a
  * pruned-but-unrewritten file), `segmented` whether the base manifest
  * is a segment chain (whose resolved content the scan served in full,
  * and whose next generation must be a full-carry checkpoint because a
  * subset rewrite cannot be expressed against a parent-linked
  * manifest).
  */
private[streaming] final case class RowLevelScanState(gen: Long,
    files: Set[String], segmented: Boolean)

/** One SQL UPDATE / MERGE / fallback-DELETE statement's row-level
  * operation: the scan builder accepts the pushed command condition
  * for FILE pruning (zone maps + bloom sidecars, exactly the table's
  * own batch-scan skipping; every filter stays a residual, so row
  * semantics never rest on the stats) and records the resolved plan
  * in [[RowLevelScanState]]; the write's commit reads it back and
  * publishes the subset rewrite. Group-based planning creates ONE
  * scan per statement — if several plans ever record conflicting
  * states, the commit refuses rather than guess which file set the
  * written rows actually cover.
  */
private[streaming] class SnapshotRowLevelOperation(table: String,
    tableSchema: StructType,
    info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  /** EVERY planning this statement's scan performed. More than one is
    * legitimate: runtime group filtering executes the matching-rows
    * SUBQUERY through the same Scan instance (Spark's rule clones the
    * relation, not the scan), and that planning sees the UNFILTERED
    * file set before `filter()` lands on the main scan — so the states
    * form a ⊆-chain over one base generation, and the rewrite's
    * content derives from the MINIMAL set (the filtered planning that
    * actually fed ReplaceData). Anything not totally ordered by ⊆, or
    * spanning two generations, is a genuine ambiguity and refuses.
    */
  private val recorded =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[RowLevelScanState]())

  private[streaming] def record(st: RowLevelScanState): Unit = {
    recorded.add(st)
    ()
  }

  private[streaming] def scanState: RowLevelScanState = {
    import scala.jdk.CollectionConverters._
    val states = recorded.synchronized { recorded.asScala.toList.distinct }
    if (states.isEmpty) throw new IllegalStateException(
      s"row-level ${command()} write on $table committed before its scan " +
        "planned - the rewrite content's base snapshot is unknown")
    val chained = states.forall(a => states.forall(b =>
      a.gen == b.gen && a.segmented == b.segmented &&
        (a.files.subsetOf(b.files) || b.files.subsetOf(a.files))))
    if (!chained) throw new IllegalStateException(
      s"row-level ${command()} on $table planned CONFLICTING scans; " +
        "refusing to commit a rewrite whose covered file set is ambiguous")
    states.minBy(_.files.size)
  }

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command =
    info.command()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(tableSchema) {
      // RUNTIME group filtering (the MATCHED-only MERGE / keyed UPDATE
      // fast path): Spark's RowLevelOperationRuntimeGroupFiltering
      // plans the command's matching rows as a dynamic subquery and
      // hands their keys here as a V2 IN — the scan then plans only
      // files whose zone maps / bloom sidecars admit a matching key,
      // and the commit carries every unplanned file verbatim. SOUND
      // because Spark injects the filter only when the command's
      // group-filter condition is non-trivial: RewriteMergeIntoTable
      // degrades it to TRUE when NOT-MATCHED-BY-SOURCE arms exist
      // (those touch groups the source never names), so no
      // source-derived filter can ever prune a file those arms would
      // rewrite. The recorded scan state is post-filter by
      // construction (planInputPartitions runs after filter()).
      override def build(): Scan = new Scan
          with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
        private val batch =
          new SnapshotBatch(table, required, None, pushed,
              SnapshotSource.aliasMapOf(tableSchema)) {
            override def planInputPartitions(): Array[InputPartition] = {
              val (gen, files, segmented) = resolvePlan()
              record(RowLevelScanState(gen, files.toSet, segmented))
              files.map(SnapshotFilePartition(_)).toArray
            }
            // NO row-group skipping here, unlike the plain batch scan:
            // a group-based rewrite reads the FULL content of every
            // admitted file (unmatched rows carry through the rewrite
            // plan, and no residual filter is re-applied above this
            // scan), so dropping a row group whose stats fail the
            // pushed condition would silently DELETE its unmatched
            // rows. File-level pruning stays sound because pruned
            // files carry verbatim at commit; sub-file pruning has no
            // such carry.
            override def createReaderFactory(): PartitionReaderFactory =
              new SnapshotReaderFactory(required, SnapshotSource.sessionConf(),
                aliases = SnapshotSource.aliasMapOf(tableSchema))
          }
        override def readSchema(): StructType = required
        override def description(): String = s"SnapshotRowLevelScan($table)"
        override def filterAttributes()
            : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
          batch.indexedColumns()
            .map(org.apache.spark.sql.connector.expressions.Expressions.column)
            .toArray
        override def filter(
            predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
            : Unit =
          batch.applyRuntimeFilters(predicates)
        override def toBatch: Batch = batch
      }
    }

  override def newWriteBuilder(lw: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new SnapshotReplaceWrite(table, lw.schema(),
            info.command().toString.toLowerCase(java.util.Locale.ROOT),
            SnapshotRowLevelOperation.this)
      }
    }
}

/** The row-level operations' rewrite write: same staging and task
  * writers as the append path, but commit publishes the staged files
  * as the REWRITE of exactly the file set the statement's scan planned
  * ([[RowLevelScanState]]) — unscanned files, stats rows included,
  * carry verbatim via [[SnapshotTable.publishSubsetRewrite]], so a
  * selective UPDATE's cost is O(affected files). A segmented base
  * (whose scan served the full resolved chain) checkpoints into a
  * full-content generation instead — a subset carry cannot be
  * expressed against a parent-linked manifest. Either way the commit
  * targets the scan's pinned base + 1 with the command recorded as
  * the action, so DESCRIBE HISTORY shows update/merge hops, the
  * streaming `skipRewrites` guard refuses to skip them (they are
  * never content-neutral), and a concurrent commit makes this publish
  * fail loudly instead of being silently overwritten.
  */
private[streaming] class SnapshotReplaceWrite(table: String,
    schema: StructType, action: String, op: SnapshotRowLevelOperation)
    extends BatchWrite {

  private val stageDir =
    s"$table/data/staged/a=${SnapshotTable.attemptName()}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ReplaceRowWriterFactory(
      new SnapshotWriterFactory(stageDir, schema, SnapshotSource.sessionConf()),
      schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val staged = messages.collect { case SnapshotWriteMessage(p) => p }.toSeq.sorted
    val st =
      try op.scanState
      catch { case e: Throwable => sweep(); throw e }
    try {
      // Empty writer tasks (a join's vacant shuffle partitions, a
      // fully-pruned scan's lone task) stage ZERO-ROW parquet files;
      // publishing them would bloat the manifest with contentless
      // entries forever — and make a no-op rewrite's manifest differ
      // from its parent. Footer row counts are driver-side metadata,
      // O(staged files). The dropped husks are deleted (they would
      // otherwise linger unreferenced in the staging dir).
      val (files, empty) = SnapshotTable.footerRowCounts(spark, staged)
        .partition(_._2 > 0L)
      empty.foreach { case (p, _) =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(hp, false)
      }
      if (st.segmented)
        SnapshotTable.publishAppend(spark, table, st.gen + 1, files.map(_._1),
          carryFrom = None, action = action)
      else
        SnapshotTable.publishSubsetRewrite(spark, table, st.gen + 1,
          st.files, files.map(_._1), action)
    } catch { case e: Throwable => sweep(); throw e }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = sweep()

  private def sweep(): Unit = SnapshotSource.deleteDir(stageDir)
}

/** Group-based row-level rewrite rows arrive with Spark's LEADING
  * `__row_operation` marker column (the rewrite plans project
  * `[__row_operation, <table columns>]`, and for a plain `DataWriter`
  * this Spark version hands the rows through un-projected — verified
  * empirically: writing positionally shifts every column by one). This
  * factory wraps the standard file writers with a view that skips the
  * marker when present: exactly one extra leading field is tolerated
  * and projected away via the public `ProjectingInternalRow`; any
  * other width mismatch fails loudly rather than writing shifted
  * columns.
  */
private[streaming] class ReplaceRowWriterFactory(
    inner: SnapshotWriterFactory, schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val delegate = inner.createWriter(partitionId, taskId)
    val width = schema.length
    new DataWriter[InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        schema, (1 to width).toIndexedSeq)
      override def write(row: InternalRow): Unit =
        if (row.numFields == width) delegate.write(row)
        else if (row.numFields == width + 1) {
          proj.project(row); delegate.write(proj)
        } else throw new IllegalStateException(
          s"row-level rewrite row has ${row.numFields} fields; " +
            s"expected $width or ${width + 1} (with the operation marker)")
      override def commit(): WriterCommitMessage = delegate.commit()
      override def abort(): Unit = delegate.abort()
      override def close(): Unit = delegate.close()
    }
  }
}

/** One task's files after PARTITION ROUTING: `(path, partition value)`
  * per file — the value rides the commit message so the driver records
  * `min = max = value` zone rows with ZERO footer I/O (`None` = null
  * partition, published as a plain conservatively-admitted row).
  */
private[streaming] case class SnapshotPartsWriteMessage(
    files: Seq[(String, Option[Long])]) extends WriterCommitMessage

/** Task-side IDENTITY-PARTITION routing — the write half of
  * partitioned catalog tables: each row lands in the file of its
  * partition VALUE (`.../p=<v>/part-<pid>-<tid>.parquet` under the
  * attempt-private staging dir — directory-granular layout at rest),
  * one [[SnapshotFileWriter]] per distinct value per task. Integer-
  * physical columns only (INT/BIGINT/DATE — the catalog refuses
  * anything else at CREATE), so the value IS the zone-map domain.
  * Callers that want bounded files per partition repartition by the
  * column first (`DISTRIBUTE BY`), the same contract as every
  * dynamic-partition writer.
  */
private[streaming] class PartitionedWriterFactory(stageDir: String,
    schema: StructType, conf: SerializableConfiguration, partCol: String)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = writer(stageDir, partitionId, taskId)

  // Streaming epochs stage under epoch-scoped directories (the
  // SnapshotWriterFactory contract), partition routing below them.
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writer(s"$stageDir/e=$epochId", partitionId, taskId)

  private def writer(dir: String, partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val idx = schema.fieldIndex(partCol)
    private val dt = schema.fields(idx).dataType
    private val writers =
      scala.collection.mutable.LinkedHashMap.empty[Option[Long], SnapshotFileWriter]

    private def valueOf(row: InternalRow): Option[Long] =
      if (row.isNullAt(idx)) None
      else dt match {
        case LongType => Some(row.getLong(idx))
        case IntegerType | DateType => Some(row.getInt(idx).toLong)
        case other => throw new UnsupportedOperationException(
          s"identity partition column $partCol must be integer-physical; got $other")
      }

    override def write(row: InternalRow): Unit = {
      val v = valueOf(row)
      writers.getOrElseUpdate(v, new SnapshotFileWriter(
        s"$dir/p=${v.map(_.toString).getOrElse("null")}/" +
          s"part-$partitionId-$taskId.parquet", schema, conf.value))
        .write(row)
    }

    override def commit(): WriterCommitMessage =
      SnapshotPartsWriteMessage(writers.toSeq.map { case (v, w) =>
        w.commit() match { case SnapshotWriteMessage(p) => (p, v) }
      }.sortBy(_._1))

    override def abort(): Unit = writers.values.foreach(_.abort())

    override def close(): Unit = writers.values.foreach(_.close())
  }
}

private[streaming] class SnapshotWriterFactory(stageDir: String,
    schema: StructType, conf: SerializableConfiguration)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SnapshotFileWriter(
      s"$stageDir/part-$partitionId-$taskId.parquet", schema, conf.value)
  // Streaming epochs stage under epoch-scoped directories so a
  // replayed epoch never collides with its failed attempt's files.
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new SnapshotFileWriter(
      s"$stageDir/e=$epochId/part-$partitionId-$taskId.parquet", schema, conf.value)
}

/** The NATIVE streaming sink — [[SnapshotStream.snapshotIngest]]'s
  * contract (micro-batch N commits generation N+1, a same-epoch replay
  * re-publishes its own generation) expressed through the connector
  * API instead of `foreachBatch`: `writeStream.format(connector)`
  * resolves here via `STREAMING_WRITE`. Exactly-once is structural for
  * the same reason as the foreachBatch sink: the epoch id IS the
  * generation, and `replace = true` republishes a replayed epoch over
  * itself while every older generation's manifest stays untouched.
  */
private[streaming] class SnapshotStreamingWrite(table: String,
    schema: StructType, partCol: Option[String] = None)
    extends StreamingWrite {

  private val stageDir =
    s"$table/data/streamed/a=${SnapshotTable.attemptName()}"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = partCol match {
    // Streaming ingest into a PARTITIONED table keeps the routing:
    // each epoch's files land per partition value and commit with
    // min=max=value zone rows, so a tailed-and-ingested table prunes
    // exactly like its batch-written twin.
    case Some(c) => new PartitionedWriterFactory(stageDir, schema,
      SnapshotSource.sessionConf(), c)
    case None =>
      new SnapshotWriterFactory(stageDir, schema, SnapshotSource.sessionConf())
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = SnapshotSource.stagedOf(messages)
    val gen = epochId + 1
    // Epoch-aligned or refuse: a NEW checkpoint pointed at a table
    // with existing history would otherwise overwrite generation 1
    // onward with replace=true — destroying committed lineage with no
    // error. Only the latest generation (a same-epoch replay) or the
    // next one (a fresh batch) are legal.
    SnapshotTable.requireEpochAligned(spark, table, gen)
    val isReplay = SnapshotTable.generations(spark, table).contains(gen)
    partCol match {
      case Some(c) => SnapshotTable.publishPartitionedFiles(spark, table, gen,
        c, files, carryFrom = if (gen > 1) Some(gen - 1) else None,
        replace = isReplay)
      case None => SnapshotTable.publishAppend(spark, table, gen,
        files.map(_._1),
        carryFrom = if (gen > 1) Some(gen - 1) else None, replace = isReplay)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$stageDir/e=$epochId")
    p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}

/** Row-by-row parquet ENCODE of one staged file through the public
  * Group API — the mirror of [[SnapshotFileReader]]'s decode, same
  * primitive-type dispatch.
  */
private[streaming] class SnapshotFileWriter(path: String, schema: StructType,
    hadoopConf: Configuration) extends DataWriter[InternalRow] {

  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}

  private val msgType = SnapshotSource.messageTypeOf(schema)
  private val writer = {
    // Clone before mutating: setSchema writes into the conf, and the
    // session conf is shared across this task's writers.
    val conf = new Configuration(hadoopConf)
    GroupWriteSupport.setSchema(msgType, conf)
    ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).build()
  }
  private val factory = new SimpleGroupFactory(msgType)

  /** One NON-NULL value encoded into `g` under `name` — recursive over
    * arrays (three-level list: one `list` repetition per element, the
    * optional `element` absent for a null element) and structs (nested
    * group, null members absent). `v` abstracts InternalRow/ArrayData
    * through the shared getter interface.
    */
  private def add(g: Group, name: String, dt: org.apache.spark.sql.types.DataType,
      v: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
      i: Int): Unit = dt match {
    case LongType | TimestampType | TimestampNTZType => g.add(name, v.getLong(i))
    case IntegerType | DateType => g.add(name, v.getInt(i))
    case DoubleType => g.add(name, v.getDouble(i))
    case FloatType => g.add(name, v.getFloat(i))
    case BooleanType => g.add(name, v.getBoolean(i))
    case StringType => g.add(name, v.getUTF8String(i).toString)
    case BinaryType => g.add(name,
      org.apache.parquet.io.api.Binary.fromConstantByteArray(v.getBinary(i)))
    case d: DecimalType if d.precision <= 18 =>
      g.add(name, v.getDecimal(i, d.precision, d.scale).toUnscaledLong)
    case d: DecimalType => g.add(name,
      org.apache.parquet.io.api.Binary.fromConstantByteArray(
        SnapshotSource.decimalToFixedBytes(
          v.getDecimal(i, d.precision, d.scale), d.precision)))
    case ArrayType(et, _) =>
      val arr = v.getArray(i)
      val lg = g.addGroup(name)
      var j = 0
      while (j < arr.numElements()) {
        val eg = lg.addGroup("list")
        if (!arr.isNullAt(j)) add(eg, "element", et, arr, j)
        j += 1
      }
    case st: StructType =>
      val sr = v.getStruct(i, st.length)
      val sg = g.addGroup(name)
      var j = 0
      while (j < st.length) {
        if (!sr.isNullAt(j)) add(sg, st.fields(j).name, st.fields(j).dataType, sr, j)
        j += 1
      }
    case MapType(kt, vt, _) =>
      // Standard MAP encode: one key_value repetition per entry, key
      // required, null values absent.
      val m = v.getMap(i)
      val keys = m.keyArray()
      val vals = m.valueArray()
      val mg = g.addGroup(name)
      var j = 0
      while (j < m.numElements()) {
        val kv = mg.addGroup("key_value")
        add(kv, "key", kt, keys, j)
        if (!vals.isNullAt(j)) add(kv, "value", vt, vals, j)
        j += 1
      }
    case other => throw new UnsupportedOperationException(
      s"snapshot writer: unsupported type $other for $name")
  }

  override def write(row: InternalRow): Unit = {
    val g = factory.newGroup()
    var i = 0
    while (i < schema.fields.length) {
      val f = schema.fields(i)
      if (!row.isNullAt(i)) add(g, f.name, f.dataType, row, i)
      i += 1
    }
    writer.write(g)
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    SnapshotWriteMessage(path)
  }

  override def abort(): Unit = {
    writer.close()
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(hadoopConf).delete(p, false)
    ()
  }

  override def close(): Unit = ()
}

/** Row-by-row parquet decode of one data file through the public
  * Group API; field resolution is by name against the file footer, so
  * schema evolution degrades to nulls instead of misaligned columns.
  */
private[streaming] class SnapshotFileReader(path: String, schema: StructType,
    conf: Configuration,
    aliases: Map[String, Seq[String]] = Map.empty)
    extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[Group] = ParquetReader
    .builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(path))
    .withConf(conf)
    .build()

  private var current: Group = _

  override def next(): Boolean = {
    current = reader.read()
    current != null
  }

  // Per-FILE field resolution, computed once off the first row's group
  // type (constant for the whole file): scan-field -> file index (-1
  // when absent) plus the file's PHYSICAL storage choices (INT96
  // timestamps from Spark's own writer; INT64-vs-FIXED decimals per
  // the precision split) — the per-row name lookups and footer-type
  // checks would otherwise run once per field per row. For ARRAY
  // fields the flags describe the list's ELEMENT type.
  private var fieldIdx: Array[Int] = _
  private var fieldInt96: Array[Boolean] = _
  private var fieldLeaf:
    Array[org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] = _

  private def resolveFields(
      fileType: org.apache.parquet.schema.GroupType): Unit = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    // Resolution order per scan field: its own name, then the RENAME
    // alias chain (newest first) — a pre-rename file serves the
    // renamed column's data under the old footer name.
    fieldIdx = schema.fields.map { f =>
      if (fileType.containsField(f.name)) fileType.getFieldIndex(f.name)
      else aliases.getOrElse(f.name, Seq.empty).iterator
        .filter(fileType.containsField)
        .map(fileType.getFieldIndex).nextOption().getOrElse(-1)
    }
    // The type whose physical encoding matters: the field itself, or
    // the 3-level list's element for an array field.
    def leafOf(i: Int): Option[org.apache.parquet.schema.PrimitiveType] = {
      if (i < 0) return None
      val t = fileType.getType(i)
      if (t.isPrimitive) Some(t.asPrimitiveType())
      else {
        val g = t.asGroupType()
        if (g.getFieldCount != 1) None
        else {
          val rep = g.getType(0)
          if (rep.isPrimitive) Some(rep.asPrimitiveType()) // 2-level legacy
          else {
            val inner = rep.asGroupType()
            if (inner.getFieldCount == 1 && inner.getType(0).isPrimitive)
              Some(inner.getType(0).asPrimitiveType())
            else None
          }
        }
      }
    }
    fieldInt96 = fieldIdx.map(i => leafOf(i).exists(
      _.getPrimitiveTypeName == PrimitiveTypeName.INT96))
    fieldLeaf = fieldIdx.map(i =>
      leafOf(i).map(_.getPrimitiveTypeName).orNull)
  }

  /** One decimal value off a Group field, by the file's PHYSICAL
    * encoding (resolved once per file): INT32/INT64 carry the unscaled
    * value directly; FIXED_LEN_BYTE_ARRAY / BINARY carry its
    * big-endian two's-complement bytes.
    */
  private def decimalOf(g: Group, idx: Int, rep: Int,
      leaf: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      d: DecimalType): org.apache.spark.sql.types.Decimal = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    leaf match {
      case PrimitiveTypeName.INT32 =>
        org.apache.spark.sql.types.Decimal(
          g.getInteger(idx, rep).toLong, d.precision, d.scale)
      case PrimitiveTypeName.INT64 =>
        org.apache.spark.sql.types.Decimal(
          g.getLong(idx, rep), d.precision, d.scale)
      case _ =>
        org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(g.getBinary(idx, rep).getBytes), d.scale),
          d.precision, d.scale)
    }
  }

  override def get(): InternalRow = {
    val g = current
    if (fieldIdx == null) resolveFields(g.getType)
    val values = new Array[Any](schema.fields.length)
    var i = 0
    while (i < schema.fields.length) {
      val idx = fieldIdx(i)
      values(i) =
        if (idx < 0 || g.getFieldRepetitionCount(idx) == 0) null
        else schema.fields(i).dataType match {
          // Spark's own writer stores timestamps as INT96 by default;
          // the file footer decides which decode applies.
          case TimestampType | TimestampNTZType if fieldInt96(i) =>
            SnapshotSource.int96ToMicros(g.getInt96(idx, 0).getBytes)
          case LongType | TimestampType | TimestampNTZType => g.getLong(idx, 0)
          case IntegerType | DateType => g.getInteger(idx, 0)
          case DoubleType => g.getDouble(idx, 0)
          case FloatType => g.getFloat(idx, 0)
          case BooleanType => g.getBoolean(idx, 0)
          case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
          case BinaryType => g.getBinary(idx, 0).getBytes
          case d: DecimalType => decimalOf(g, idx, 0, fieldLeaf(i), d)
          // Nested shapes recurse with inline footer-type resolution
          // (the hoisted per-file arrays cover the hot flat columns;
          // nested members were always per-element dispatch).
          case dt @ (_: ArrayType | _: StructType | _: MapType) =>
            value(g, idx, 0, dt)
          case dt => throw new UnsupportedOperationException(
            "snapshot source: unsupported column type " +
              s"$dt for ${schema.fields(i).name}")
        }
      i += 1
    }
    new GenericInternalRow(values)
  }

  /** One NON-NULL value off field `idx`, repetition `rep` of `g` —
    * the recursive decode for nested shapes (arrays as three-level
    * lists, structs as nested groups with BY-NAME member resolution so
    * evolution inside a struct degrades to null members). Physical
    * forms (INT96 timestamps, INT32/INT64/FIXED decimals) resolve off
    * the group's own footer type per value.
    */
  private def value(g: Group, idx: Int, rep: Int,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    def leaf: PrimitiveTypeName = {
      val t = g.getType.getType(idx)
      if (t.isPrimitive) t.asPrimitiveType().getPrimitiveTypeName else null
    }
    dt match {
      case TimestampType | TimestampNTZType if leaf == PrimitiveTypeName.INT96 =>
        SnapshotSource.int96ToMicros(g.getInt96(idx, rep).getBytes)
      case LongType | TimestampType | TimestampNTZType => g.getLong(idx, rep)
      case IntegerType | DateType => g.getInteger(idx, rep)
      case DoubleType => g.getDouble(idx, rep)
      case FloatType => g.getFloat(idx, rep)
      case BooleanType => g.getBoolean(idx, rep)
      case StringType => UTF8String.fromBytes(g.getBinary(idx, rep).getBytes)
      case BinaryType => g.getBinary(idx, rep).getBytes
      case d: DecimalType => decimalOf(g, idx, rep, leaf, d)
      case ArrayType(et, _) =>
        // THREE-LEVEL list decode (both writers' shape): the LIST
        // group's single repeated `list` child, one repetition per
        // element; the optional `element` absent = null element.
        val lg = g.getGroup(idx, rep)
        val n = lg.getFieldRepetitionCount(0)
        val out = new Array[Any](n)
        var k = 0
        while (k < n) {
          val eg = lg.getGroup(0, k)
          out(k) =
            if (eg.getFieldRepetitionCount(0) == 0) null
            else value(eg, 0, 0, et)
          k += 1
        }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case st: StructType =>
        val sg = g.getGroup(idx, rep)
        val t = sg.getType
        val out = new Array[Any](st.length)
        var k = 0
        while (k < st.length) {
          val f = st.fields(k)
          val j = if (t.containsField(f.name)) t.getFieldIndex(f.name) else -1
          out(k) =
            if (j < 0 || sg.getFieldRepetitionCount(j) == 0) null
            else value(sg, j, 0, f.dataType)
          k += 1
        }
        new GenericInternalRow(out)
      case MapType(kt, vt, _) =>
        // Standard MAP decode: the map group's single repeated
        // key_value child, key/value resolved BY NAME.
        val mg = g.getGroup(idx, rep)
        val n = mg.getFieldRepetitionCount(0)
        val keys = new Array[Any](n)
        val vals = new Array[Any](n)
        var k = 0
        while (k < n) {
          val kv = mg.getGroup(0, k)
          val t = kv.getType
          val ki = t.getFieldIndex("key")
          val vi = if (t.containsField("value")) t.getFieldIndex("value") else -1
          keys(k) = value(kv, ki, 0, kt)
          vals(k) =
            if (vi < 0 || kv.getFieldRepetitionCount(vi) == 0) null
            else value(kv, vi, 0, vt)
          k += 1
        }
        new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
      case other => throw new UnsupportedOperationException(
        s"snapshot source: unsupported nested type $other")
    }
  }

  override def close(): Unit = reader.close()
}
