package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark client: one process, one closed-loop caller. It sets
  * the workload up `setups` times (a fresh session and fresh tables
  * each time), runs one checked warm-up pass whose outputs `run.py`
  * compares against DuckDB, then repeats timed passes of the workload's
  * fixed mix until `seconds` have elapsed (the pass in flight always
  * completes, so every pass offers the same work). Results go to `out`
  * as one JSON object.
  *
  * With `trace`, the timed window is split: the first half runs
  * untraced, the second half traced (spans + listeners), and the
  * difference of their median latencies is the tracing overhead.
  *
  * Usage: Main --workload W --data DIR --work DIR --out FILE
  *             --seconds N --setups K --trace 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val setups = opt("setups").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    // Row counts of the generated inputs, as the generator wrote them.
    val rows = "\"([^\"]+)\":\\s*(\\d+)".r
      .findAllMatchIn(Files.readString(Paths.get(s"$data/rows.json")))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

    var spark: SparkSession = null
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, trace)
    val w: Workload = workload match {
      case "analytics" => new Analytics(data, s"$work/check", rows)
      case "lakehouse" =>
        new Both(new LakehouseRead(data, work, rows), new LakehouseIngest(data, work, rows("feed")))
      case other => sys.error(s"unknown workload $other")
    }

    // Setup: session start + table builds, `setups` times; the Python
    // side adds its input generation time per repetition.
    val setupS = (0 until setups).map { k =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, work, w.conf(k))
      ctx.spark = spark
      w.build(ctx, k)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    w.check(ctx)
    val warmS = (System.nanoTime() - t0) / 1e9
    ctx.resetSamples()

    def timedPasses(budget: Double, first: Int): (Seq[Double], Int) = {
      val deadline = System.nanoTime() + (budget * 1e9).toLong
      val passWall = mutable.ArrayBuffer.empty[Double]
      var p = first
      while (passWall.isEmpty || System.nanoTime() < deadline) {
        trace.pass = p
        val s = System.nanoTime()
        w.pass(ctx, p)
        passWall += (System.nanoTime() - s) / 1e9
        p += 1
      }
      (passWall.toSeq, p)
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "spark_version" -> spark.version,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "cores" -> cpus,
      "setup_jvm_s" -> setupS,
      "warmup_s" -> warmS)

    val passWall =
      if (!traced) timedPasses(seconds, 1)._1
      else {
        val (untracedWall, next) = timedPasses(seconds / 2, 1)
        val untraced = ctx.latencies.toSeq
        ctx.resetSamples()
        trace.attach()
        val (tracedWall, _) = timedPasses(seconds / 2, next)
        result("untraced_query_s") = untraced
        result("untraced_pass_s") = untracedWall
        tracedWall
      }

    result("pass_s") = passWall
    result("rows_per_pass") = w.rowsPerPass
    result("query_s") = ctx.latencies.toSeq
    result("query_ops") = ctx.latencyOps.toSeq
    result("freshness_s") = ctx.freshness.toSeq
    result("attempted") = ctx.attempted
    result("failed") = ctx.failed
    result("errors") = ctx.errors.toSeq
    result("checks") = ctx.checks.toSeq
    result ++= w.finish(ctx)
    result("heap_mb") = retainedHeapMb()
    if (traced) {
      ctx.attempt("trace nesting") {
        val bad = trace.escapes
        require(bad.isEmpty, s"${bad.size} spans outside their parent: " +
          bad.take(3).map(s => s"${s.layer}.${s.op}#${s.id} in #${s.parent}").mkString(", "))
      }
      result("layers") = Layers.all(trace, w.gauges(ctx))
      Files.writeString(Paths.get(s"$work/spans.json"), trace.json)
    }
    Files.writeString(Paths.get(opt("out")), Json.render(result) + "\n")
    spark.stop()
  }

  def session(cpus: Int, work: String, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // As graft.Bench: literal frames keep a fixed small layout.
      .config("spark.sql.leafNodeDefaultParallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still referenced after full collections; the pauses let
    * Spark's cleaner drop what the first collection made unreachable.
    */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}

/** State the client threads through the workloads. */
final class Ctx(var spark: SparkSession, val trace: Trace) {
  val latencies = mutable.ArrayBuffer.empty[Double]
  val latencyOps = mutable.ArrayBuffer.empty[String]
  val freshness = mutable.ArrayBuffer.empty[Double]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Outputs `run.py` verifies: name -> (kind, result path, reference). */
  val checks = mutable.ArrayBuffer.empty[Map[String, String]]
  var attempted = 0L
  var failed = 0L

  def resetSamples(): Unit = {
    latencies.clear(); latencyOps.clear(); freshness.clear()
  }

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    val msg = s"$what: ${e.toString.takeWhile(_ != '\n').take(300)}"
    errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** One attempted operation; a throw counts as a failure. */
  def attempt(what: String)(f: => Unit): Boolean = {
    attempted += 1
    try { f; true } catch { case e: Throwable => fail(what, e); false }
  }

  /** One timed operation: its latency joins `query_s` when it succeeds. */
  def timed(layer: String, op: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    if (attempt(op)(trace.span(layer, op)(f))) {
      latencies += (System.nanoTime() - t0) / 1e9
      latencyOps += op
    }
  }
}

trait Workload {
  /** Extra session confs for setup repetition `rep`. */
  def conf(rep: Int): Map[String, String] = Map.empty
  /** Table builds (part of set-up). */
  def build(ctx: Ctx, rep: Int): Unit
  /** The warm-up pass; it records the outputs `run.py` checks. */
  def check(ctx: Ctx): Unit
  /** One timed pass of the fixed mix. */
  def pass(ctx: Ctx, p: Int): Unit
  /** Input rows one pass offers, fixed by the generated inputs. */
  def rowsPerPass: Long
  /** Workload-specific results, computed after the timed passes. */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
  /** Per-layer gauges read from the tables after the traced passes. */
  def gauges(ctx: Ctx): Map[String, Double] = Map.empty
}

/** Two workloads run as one: set-up, warm-up and every pass do the
  * first's part, then the second's.
  */
final class Both(a: Workload, b: Workload) extends Workload {
  override def conf(rep: Int): Map[String, String] = a.conf(rep) ++ b.conf(rep)
  def build(ctx: Ctx, rep: Int): Unit = { a.build(ctx, rep); b.build(ctx, rep) }
  def check(ctx: Ctx): Unit = { a.check(ctx); b.check(ctx) }
  def pass(ctx: Ctx, p: Int): Unit = { a.pass(ctx, p); b.pass(ctx, p) }
  def rowsPerPass: Long = a.rowsPerPass + b.rowsPerPass
  override def finish(ctx: Ctx): Map[String, Any] = a.finish(ctx) ++ b.finish(ctx)
  override def gauges(ctx: Ctx): Map[String, Double] = a.gauges(ctx) ++ b.gauges(ctx)
}

/** The per-layer metrics, named `<module>.<metric>`. Every traced run
  * reports all of them; a layer the workload leaves idle reads 0.
  * `EventStream.dedupEvents` only builds a plan; its deduplication runs
  * inside each micro-batch the upsert executes, so it has no span (and
  * no self time) of its own, and its metrics come from the stream's
  * state-operator progress.
  */
object Layers {
  val Modules = Seq("Tables", "queries", "kernel", "SnapshotSource",
    "SnapshotTable", "SnapshotStream")

  def all(t: Trace, gauges: Map[String, Double]): Map[String, Double] = {
    val build = (op: String) => op.endsWith(".build")
    val files = sum(t, "SnapshotSource", "files_in_generation")
    val m = mutable.LinkedHashMap[String, Double](
      "Tables.load_s" -> wall(t, "Tables", _ => true),
      "queries.build_s" -> wall(t, "queries", build),
      "queries.plan_s" -> sum(t, "queries", "plan_s"),
      "kernel.run_s" -> wall(t, "kernel", op => !build(op)),
      "kernel.shuffle_write_bytes" -> sum(t, "kernel", "shuffle_write_bytes"),
      "queries.exec_s" -> sum(t, "queries", "exec_s"),
      "queries.executor_cpu_s" -> sum(t, "queries", "executor_cpu_s"),
      "queries.gc_s" -> sum(t, "queries", "gc_s"),
      "queries.exchanges" -> sum(t, "queries", "exchanges"),
      "queries.tasks" -> sum(t, "queries", "tasks"),
      "queries.shuffle_write_bytes" -> sum(t, "queries", "shuffle_write_bytes"),
      "queries.spill_bytes" -> sum(t, "queries", "spill_bytes"),
      "queries.peak_exec_mem_bytes" -> max(t, "queries", "peak_exec_mem_bytes"),
      "SnapshotSource.plan_s" -> sum(t, "SnapshotSource", "plan_s"),
      "SnapshotSource.scan_partitions" -> sum(t, "SnapshotSource", "scan_partitions"),
      "SnapshotSource.files_in_generation" -> files,
      "SnapshotSource.pruned_ratio" ->
        (if (files == 0) 0.0 else 1.0 - sum(t, "SnapshotSource", "files_scanned") / files),
      "SnapshotSource.exec_s" -> sum(t, "SnapshotSource", "exec_s"),
      "SnapshotSource.executor_cpu_s" -> sum(t, "SnapshotSource", "executor_cpu_s"),
      "SnapshotSource.input_records" -> sum(t, "SnapshotSource", "input_records"),
      "SnapshotTable.commit_s" -> wall(t, "SnapshotTable", _ == "commit"),
      "SnapshotTable.upsert_s" -> wall(t, "SnapshotTable", _ == "upsert"),
      "SnapshotTable.bytes_written" -> sum(t, "SnapshotTable", "bytes_written"),
      "SnapshotTable.files_written" -> sum(t, "SnapshotTable", "files_written"),
      "SnapshotTable.readMor_s" -> wall(t, "SnapshotTable", _ == "readMor"),
      "SnapshotTable.live_files" -> gauges.getOrElse("live_files", 0.0),
      "SnapshotTable.delete_files" -> gauges.getOrElse("delete_files", 0.0),
      "SnapshotTable.compact_s" -> wall(t, "SnapshotTable", _ == "compact"),
      "SnapshotTable.expire_s" -> wall(t, "SnapshotTable", _ == "expire"),
      "SnapshotTable.vacuum_s" -> wall(t, "SnapshotTable", _ == "vacuum"),
      "SnapshotStream.trigger_s" -> sum(t, "SnapshotStream", "trigger_s"),
      "SnapshotStream.latest_offset_s" -> sum(t, "SnapshotStream", "latest_offset_s"),
      "SnapshotStream.plan_s" -> sum(t, "SnapshotStream", "stream_plan_s"),
      "SnapshotStream.wal_s" -> sum(t, "SnapshotStream", "wal_s"),
      "SnapshotStream.input_rows" -> sum(t, "SnapshotStream", "input_rows"),
      "EventStream.state_update_s" -> sum(t, "SnapshotStream", "state_update_s"),
      "EventStream.state_commit_s" -> sum(t, "SnapshotStream", "state_commit_s"),
      "EventStream.state_rows" -> max(t, "SnapshotStream", "state_rows"),
      "EventStream.state_mem_bytes" -> max(t, "SnapshotStream", "state_mem_bytes"),
      "EventStream.dropped_by_watermark" -> sum(t, "SnapshotStream", "dropped_by_watermark"))
    val self = t.selfByLayer
    Modules.foreach(l => m(s"$l.self_s") = self.getOrElse(l, 0.0))
    m.toMap
  }

  /** Sum of a counter over the traced spans of one layer. */
  def sum(t: Trace, layer: String, k: String): Double =
    t.measured.filter(_.layer == layer)
      .map(s => Option(s.counters.get(k)).map(_.doubleValue).getOrElse(0.0)).sum

  def max(t: Trace, layer: String, k: String): Double =
    (0.0 +: t.measured.filter(_.layer == layer)
      .map(s => Option(s.counters.get(k)).map(_.doubleValue).getOrElse(0.0))).max

  /** Total wall time of the traced spans whose op matches. */
  def wall(t: Trace, layer: String, op: String => Boolean): Double =
    t.measured.filter(s => s.layer == layer && op(s.op))
      .map(s => (s.end - s.start) / 1e9).sum
}
