package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.SnapshotTable
import graft.streaming.{EventStream, SnapshotSourceProvider, SnapshotStream, StreamDrill}

/** `lakehouse_ingest`: writes beside reads on the snapshot layer. Each
  * pass ingests the whole seeded feed into fresh tables, batch by batch:
  *
  *  1. append the batch to bronze (`SnapshotTable.commit`);
  *  2. drain the streaming query that tails bronze through
  *     `SnapshotSourceProvider` (`maxGensPerBatch=1`), deduplicates with
  *     `EventStream.dedupEvents` and hands each micro-batch to this
  *     benchmark's `foreachBatch`, which times
  *     `SnapshotStream.upsertBatch(keyCol=user_id, orderCol=ts)` into
  *     silver;
  *  3. read silver's latest state through `SnapshotTable.readMor`.
  *
  * Every [[EveryK]] batches, except after the last, bronze is compacted.
  * Once the stream has consumed the compaction generation (after the
  * next batch's drain), bronze is expired up to that batch and vacuumed;
  * an expire that reclaims nothing fails.
  *
  * The stream runs micro-batches only while a trigger is open: each
  * micro-batch waits in `foreachBatch` until the client opens the next
  * trigger, so every upsert runs inside the trigger that drains it and
  * its span's parent is that trigger.
  * Freshness runs from the start of a batch's bronze commit to the end
  * of the upsert that makes silver serve it.
  */
final class LakehouseIngest(dir: String, work: String, feedRows: Long) extends Workload {
  val EveryK = 1
  private var feed: Seq[String] = Nil
  private var feedBytes = 0L
  private var stream: SparkSession = _
  /** Silver's root in each timed pass. */
  private val silvers = scala.collection.mutable.ArrayBuffer.empty[String]
  private val writeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]

  @volatile private var upsertEnd = 0L
  @volatile private var upsertSpan: Span = _
  @volatile private var silverGen = 0L

  /** The open trigger's gate and span, published by the client thread. */
  private val gate = new Object
  private var open = false
  private var trigger: Span = _

  /** Blocks the stream thread until a trigger is open; returns its span. */
  private def admit(): Span = gate.synchronized {
    while (!open) gate.wait()
    trigger
  }

  private def setGate(to: Boolean, span: Span): Unit = gate.synchronized {
    open = to
    trigger = span
    gate.notifyAll()
  }

  def build(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    feed = Files.list(Paths.get(s"$dir/feed")).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet"))
      .toSeq.sortBy(p => p.replaceAll(".*batch=(\\d+).*", "$1").toInt)
    feedBytes = feed.map(p => Files.size(Paths.get(p))).sum
    stream = StreamDrill.session(spark)
  }

  private def sizes(roots: Seq[String]): Map[String, Long] = roots.flatMap { r =>
    val p = Paths.get(r)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toSeq
  }.toMap

  /** Adds `v` to counter `k` of the span just closed (traced runs). */
  private def note(ctx: Ctx, k: String, v: Long): Unit =
    if (ctx.trace.on) ctx.trace.last.add(k, v.toDouble)

  private def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** The streaming query of one pass: it tails bronze, deduplicates and
    * upserts each micro-batch into silver. It polls every 50 ms and
    * stays up between batches, as a deployed stream does.
    */
  private def start(ctx: Ctx, bronze: String, silver: String, ckpt: String): StreamingQuery = {
    ctx.trace.watch(stream)
    val src = stream.readStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("path", bronze).option("maxGensPerBatch", "1")
      .option("skipRewrites", "true").load()
    EventStream.dedupEvents(src)
      .writeStream
      .trigger(Trigger.ProcessingTime(50L))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        // The stream thread inherited the span open when it started; its
        // jobs belong to the trigger that admitted this micro-batch.
        ctx.trace.adopt(admit())
        try {
          ctx.trace.span("SnapshotTable", "upsert") {
            SnapshotStream.upsertBatch(b.toDF(), id, silver, "user_id", Some("ts"))
          }
          silverGen = id + 1
          upsertEnd = System.nanoTime()
          upsertSpan = ctx.trace.last
        } finally ctx.trace.adopt(null)
      }
      .start()
  }

  /** The warm-up is one untimed pass; the timed passes are checked. */
  def check(ctx: Ctx): Unit = pass(ctx, 0)

  def pass(ctx: Ctx, p: Int): Unit = {
    val spark = ctx.spark
    val base = Paths.get(s"$work/ingest/p$p")
    delete(base)
    val bronze = s"$base/bronze"
    val silver = s"$base/silver"
    val ckpt = s"$base/ckpt"
    var seen = Map.empty[String, Long]
    var written = 0L
    /** Bytes and files that appeared under the table roots since the
      * last call, charged to `span` (the write that made them).
      */
    def account(span: => Span): Unit = {
      val now = sizes(Seq(bronze, silver))
      val fresh = now.filter { case (f, _) => !seen.contains(f) }
      seen ++= fresh
      written += fresh.values.sum
      if (ctx.trace.on && span != null) {
        span.add("bytes_written", fresh.values.sum.toDouble)
        span.add("files_written", fresh.size.toDouble)
      }
    }
    silverGen = 0L
    var bronzeGen = 0L
    var consumed = 0L
    var compacted = 0L  // bronze's compaction generation not yet expired
    var query: StreamingQuery = null
    try feed.zipWithIndex.foreach { case (batch, b) =>
      val t0 = System.nanoTime()
      upsertEnd = 0L
      val ok = ctx.attempt(s"commit[$b]") {
        ctx.trace.span("SnapshotTable", "commit") {
          SnapshotTable.commit(spark.read.parquet(batch), bronze, bronzeGen + 1,
            carryFrom = if (bronzeGen == 0) None else Some(bronzeGen))
        }
        bronzeGen += 1
      } && { account(ctx.trace.last); ctx.attempt(s"trigger[$b]") {
        // Micro-batch k consumes bronze generation k, so silver's
        // generation catches up with bronze's once every hop is drained.
        ctx.trace.span("SnapshotStream", "trigger") {
          if (query == null) query = start(ctx, bronze, silver, ckpt)
          setGate(true, ctx.trace.current)
          try while (silverGen < bronzeGen) {
            query.processAllAvailable()
            require(query.isActive, "the ingest stream stopped")
          } finally setGate(false, null)
        }
        consumed = bronzeGen
      } }
      if (ok && upsertEnd > 0) {
        ctx.freshness += (upsertEnd - t0) / 1e9
        account(upsertSpan)
        ctx.timed("SnapshotTable", "readMor") {
          SnapshotTable.readMor(spark, silver, silverGen, "user_id")
            .write.format("noop").mode("overwrite").save()
        }
      }
      if (compacted > 0 && consumed >= compacted) {
        compacted = 0L
        ctx.attempt(s"expire[$b]") {
          // Every generation the stream has consumed is history now.
          val (retired, orphans) = ctx.trace.span("SnapshotTable", "expire") {
            SnapshotTable.expire(spark, bronze, consumed)
          }
          note(ctx, "manifests_retired", retired)
          note(ctx, "files_deleted", orphans)
          require(retired + orphans > 0, s"expire below gen $consumed reclaimed nothing")
        }
        ctx.attempt(s"vacuum[$b]") {
          val (examined, deleted) = ctx.trace.span("SnapshotTable", "vacuum") {
            SnapshotTable.vacuum(spark, bronze, minAgeMs = 0L)
          }
          note(ctx, "files_examined", examined)
          note(ctx, "files_deleted", deleted)
          require(examined > 0, "vacuum examined no files")
        }
      }
      if ((b + 1) % EveryK == 0 && b + 1 < feed.size) {
        ctx.attempt(s"compact[$b]") {
          ctx.trace.span("SnapshotTable", "compact") {
            SnapshotTable.compact(spark, bronze, bronzeGen, 1)
          }
          bronzeGen += 1
          compacted = bronzeGen
          account(ctx.trace.last)
        }
      }
    } finally if (query != null) query.stop()
    if (p > 0) {
      writeAmp += written.toDouble / feedBytes
      silvers += silver
    }
  }

  def rowsPerPass: Long = feedRows

  /** Checks every pass's silver; measures space on the last pass. */
  override def finish(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    silvers.zipWithIndex.foreach { case (silver, i) =>
      val out = s"$work/check/silver_$i"
      if (ctx.attempt(s"silver[$i]") {
        val gen = SnapshotTable.generations(spark, silver).max
        SnapshotTable.readMor(spark, silver, gen, "user_id")
          .write.mode("overwrite").parquet(out)
      }) ctx.checks += Map("name" -> s"silver_$i", "kind" -> "silver", "path" -> out)
    }
    val last = Paths.get(silvers.last).getParent
    val bronze = s"$last/bronze"
    val silver = s"$last/silver"
    val plain = s"$work/plain"
    SnapshotTable.readMor(spark, silver, SnapshotTable.generations(spark, silver).max, "user_id")
      .write.mode("overwrite").parquet(s"$plain/silver")
    SnapshotTable.readAs(spark, bronze, SnapshotTable.generations(spark, bronze).max)
      .write.mode("overwrite").parquet(s"$plain/bronze")
    val onDisk = sizes(Seq(bronze, silver)).values.sum.toDouble
    val plainBytes = sizes(Seq(s"$plain/silver", s"$plain/bronze")).values.sum
    Map("write_amp" -> writeAmp.toSeq, "space_amp" -> onDisk / plainBytes,
      "feed_rows" -> feedRows, "feed_bytes" -> feedBytes, "batches" -> feed.size)
  }

  override def gauges(ctx: Ctx): Map[String, Double] = {
    val silver = silvers.last
    val gen = SnapshotTable.generations(ctx.spark, silver).max
    Map("live_files" -> SnapshotTable.listFiles(ctx.spark, silver, gen).size.toDouble,
      "delete_files" -> SnapshotTable.listDeleteFiles(ctx.spark, silver, gen).size.toDouble)
  }
}
