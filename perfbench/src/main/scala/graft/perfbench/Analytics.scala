package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}

/** `analytics`: registered queries over the generated plain-parquet
  * tables, each executed through the noop writer as `graft.Bench` does.
  * The kernel, the query library and Spark's own scan, shuffle and
  * compute do the work; the snapshot layer does none.
  */
final class Analytics(dir: String, checkDir: String, rows: Map[String, Long])
    extends Workload {
  /** The mix, with the tables each query reads (for rows offered). */
  val Mix: Seq[(String, Seq[String])] = Seq(
    "search_count" -> Seq("documents"),
    "kernel_search" -> Seq("documents"),
    "group_count" -> Seq("lineitem"),
    "global_sort" -> Seq("orders"),
    "multiplicity_expand" -> Seq("documents"),
    "q1_pricing" -> Seq("lineitem"),
    "q3_shipping" -> Seq("customer", "orders", "lineitem"),
    "q18_big_orders" -> Seq("lineitem", "orders", "customer"),
    "join_revenue" -> Seq("lineitem", "orders", "customer", "nation"),
    "pipeline_events" -> Seq("events"))

  private def layerOf(q: String) = if (q == "kernel_search") "kernel" else "queries"

  /** `events` goes through its own loader, which normalizes `ts`. */
  private def table(spark: SparkSession, n: String): DataFrame =
    if (n == "events") Tables.events(spark, dir) else Tables.load(spark, dir, n)

  def build(ctx: Ctx, rep: Int): Unit = Tables.names.foreach(table(ctx.spark, _))

  /** As graft.Bench: no query is billed for a predecessor's cached state. */
  private def cleanState(ctx: Ctx): Unit = {
    graft.operators.BandedPairs.releaseCached()
    ctx.spark.catalog.clearCache()
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def check(ctx: Ctx): Unit = {
    val oracle = SparkEntry.oracleSqlFor(dir)
    Mix.foreach { case (q, _) =>
      val out = s"$checkDir/$q"
      if (ctx.attempt(q) {
        SparkEntry.queries(q)(ctx.spark, dir).write.mode("overwrite").parquet(out)
      }) ctx.checks += Map("name" -> q, "kind" -> "oracle", "path" -> out,
        "sql" -> oracle(q))
    }
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    System.gc()
    ctx.trace.span("Tables", "load") {
      Tables.names.foreach(table(ctx.spark, _))
    }
    Mix.foreach { case (q, _) =>
      cleanState(ctx)
      val layer = layerOf(q)
      ctx.timed(layer, q) {
        val df = ctx.trace.span(layer, s"$q.build")(SparkEntry.queries(q)(ctx.spark, dir))
        df.write.format("noop").mode("overwrite").save()
      }
    }
  }

  def rowsPerPass: Long = Mix.map(_._2.map(rows).sum).sum
}
