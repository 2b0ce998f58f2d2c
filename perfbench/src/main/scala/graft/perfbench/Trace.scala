package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: `layer` is the module name (`queries`,
  * `SnapshotTable`, ...), `op` the function or query called.
  */
final class Span(val id: Long, val layer: String, val op: String,
    val parent: Long, val pass: Int, val start: Long) {
  @volatile var end: Long = 0L
  /** Counters the listeners attributed to this span (innermost only). */
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)
  def max(k: String, v: Double): Unit =
    counters.merge(k, v, (a, b) => math.max(a, b))
}

/** The benchmark's tracer. Off, `span` is a plain call. On, it records a
  * span around the call, tags the thread's Spark jobs with the span id
  * (a local property, which Spark copies into the threads a query
  * spawns, the stream thread included), and the listeners below
  * attribute task metrics, planning phases and stream progress to the
  * innermost open span. Spans stay in memory until [[json]] writes them.
  */
final class Trace(spark: => SparkSession, enabled: Boolean) {
  private val Prop = "perfbench.span"
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  @volatile private var mainSpan: Span = _
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val lastClosed = new ThreadLocal[Span]
  @volatile var pass = 0

  /** The span the calling thread closed most recently. */
  def last: Span = lastClosed.get

  /** The calling thread's innermost open span, or null. */
  def current: Span = stack.get.headOption.orNull

  /** Tags the calling thread's Spark jobs, and parents its next spans,
    * with `s` (null: none). A thread Spark started keeps the span that
    * was open when it started; a long-lived one adopts the span it now
    * works for.
    */
  def adopt(s: Span): Unit = if (on)
    spark.sparkContext.setLocalProperty(Prop, Option(s).map(_.id.toString).orNull)

  def span[T](layer: String, op: String)(f: => T): T =
    if (!on) f
    else {
      val sc = spark.sparkContext
      PerfbenchBus.drain(sc)
      val outer = Option(sc.getLocalProperty(Prop))
      val parent = stack.get.headOption.map(_.id)
        .orElse(outer.map(_.toLong)).getOrElse(0L)
      val s = new Span(seq.incrementAndGet(), layer, op, parent, pass, System.nanoTime())
      spans.put(s.id, s)
      stack.set(s :: stack.get)
      val main = Thread.currentThread().getName == "main"
      val prevMain = mainSpan
      if (main) mainSpan = s
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        PerfbenchBus.drain(sc)
        s.end = System.nanoTime()
        lastClosed.set(s)
        stack.set(stack.get.tail)
        sc.setLocalProperty(Prop, outer.orNull)
        if (main) mainSpan = prevMain
      }
    }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => Option(spans.get(id.toLong)))

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach(s => e.stageIds.foreach(stageSpan.putIfAbsent(_, s)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        s.add("tasks", 1)
        s.add("executor_cpu_s", m.executorCpuTime / 1e9)
        s.add("executor_run_s", m.executorRunTime / 1e3)
        s.add("gc_s", m.jvmGCTime / 1e3)
        s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        s.max("peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
        s.add("input_records", m.inputMetrics.recordsRead.toDouble)
        s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
  }

  private object queries extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(mainSpan).foreach { s =>
        s.add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
        s.add("exec_s", durationNs / 1e9)
        s.add("exchanges", exchanges(qe.executedPlan).toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(mainSpan).foreach { s =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong / 1e3 }
        s.add("trigger_s", d.getOrElse("triggerExecution", 0.0))
        s.add("latest_offset_s", d.getOrElse("latestOffset", 0.0))
        s.add("stream_plan_s", d.getOrElse("queryPlanning", 0.0))
        s.add("wal_s", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
        s.add("input_rows", p.numInputRows.toDouble)
        p.stateOperators.foreach { o =>
          s.add("state_update_s", (o.allUpdatesTimeMs + o.allRemovalsTimeMs) / 1e3)
          s.add("state_commit_s", o.commitTimeMs / 1e3)
          s.add("dropped_by_watermark", o.numRowsDroppedByWatermark.toDouble)
          // Gauges: the last progress of the run holds the final state.
          s.counters.put("state_rows", o.numRowsTotal.toDouble)
          s.counters.put("state_mem_bytes", o.memoryUsedBytes.toDouble)
        }
      }
  }

  /** Spans record only after [[attach]]. */
  @volatile var on = false
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkSession, java.lang.Boolean]())

  /** Start tracing: register the listeners on the current session
    * (traced runs only).
    */
  def attach(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    on = true
    watch(spark)
  }

  /** Follow the streaming queries of `session` (each session has its
    * own query manager); a no-op until [[attach]].
    */
  def watch(session: SparkSession): Unit =
    if (on && watched.add(session)) session.streams.addListener(streams)

  def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  /** Spans of the traced passes (pass > 0). */
  def measured: Seq[Span] = all.filter(s => s.pass > 0 && s.end > 0)

  /** Self time: the span's duration minus the union of its children's
    * intervals (children may run on another thread, as an upsert does
    * inside its trigger).
    */
  def selfSeconds(s: Span, kids: Map[Long, Seq[Span]]): Double = {
    val iv = kids.getOrElse(s.id, Nil)
      .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }

  /** Traced spans that start before or end after their parent. */
  def escapes: Seq[Span] = {
    val byId = all.map(s => s.id -> s).toMap
    measured.filter { s =>
      byId.get(s.parent).exists(p => s.start < p.start || s.end > p.end || p.end == 0)
    }
  }

  def selfByLayer: Map[String, Double] = {
    val ms = measured
    val kids = ms.groupBy(_.parent)
    ms.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds(_, kids)).sum }
  }

  def json: String = {
    val b = new StringBuilder("[")
    all.filter(_.end > 0).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) b.append(",\n")
      val cs = s.counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      b.append(s"""{"id": ${s.id}, "parent": ${s.parent}, "pass": ${s.pass}, """ +
        s""""layer": ${Json.str(s.layer)}, "op": ${Json.str(s.op)}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "counters": {$cs}}""")
    }
    b.append("]\n").toString
  }

  /** Exchanges in an executed plan, adaptive stages unwrapped. */
  def exchanges(p: SparkPlan): Int = Trace.walk(p).count {
    case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    case _ => false
  }
}

object Trace {
  /** Every node of an executed plan, adaptive and stage wrappers and
    * subqueries included.
    */
  def walk(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def go(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case other =>
        out += other
        other.children.foreach(go)
        other.subqueries.foreach(go)
    }
    go(p)
    out.toSeq
  }
}
