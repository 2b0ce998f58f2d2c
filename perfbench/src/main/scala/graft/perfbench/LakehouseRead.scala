package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.sources.SnapshotTable
import graft.streaming.{SnapshotCatalog, SnapshotSource}

/** `lakehouse_read`: read-only SQL through the `SnapshotCatalog`
  * (`snap_cat.*`) over snapshot tables that set-up commits from the
  * generated parquet in several append generations, key-clustered, with
  * zone maps and bloom sidecars. The connector's planning (manifest and
  * footer reads, pruning) and its decode do most of the work.
  */
final class LakehouseRead(dir: String, work: String, inputRows: Map[String, Long])
    extends Workload {
  private val Gens = 3
  private val FilesPerGen = 4
  /** The generation the time-travel statement reads. */
  private val TravelGen = 2

  private var wh = ""
  private var rows = Map.empty[String, Long]
  private var travelBound = 0L
  private val nOrders = inputRows("orders")
  private val nPart = inputRows("part")
  private val nCust = inputRows("customer")
  private val expected = scala.collection.mutable.Map.empty[String, Seq[String]]

  override def conf(rep: Int): Map[String, String] = Map(
    "spark.sql.catalog.snap_cat" -> classOf[SnapshotCatalog].getName,
    "spark.sql.catalog.snap_cat.warehouse" -> s"$work/warehouse$rep")

  private def root(t: String) = s"$wh/$t"

  /** Commit `df` (stored in `key` order) in `gens` append generations,
    * one key range each. Each generation is written by one task capped
    * at a row count per file, so its `files` files hold disjoint,
    * ascending key ranges: the clustering zone maps prune on.
    */
  private def commitClustered(df: DataFrame, table: String, key: String,
      n: Long, rows: Long, files: Int, gens: Int = Gens): Seq[Long] = {
    val bounds = (0 to gens).map(i => n * i / gens)
    val spark = df.sparkSession
    spark.conf.set("spark.sql.files.maxRecordsPerFile", rows / (gens * files) + 1)
    try (0 until gens).foreach { i =>
      SnapshotTable.commit(
        df.filter(col(key) >= bounds(i) && col(key) < bounds(i + 1)).coalesce(1),
        root(table), (i + 1).toLong, carryFrom = if (i == 0) None else Some(i.toLong))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    bounds
  }

  def build(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    wh = s"$work/warehouse$rep"
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val liBounds = commitClustered(li, "lineitem", "l_orderkey", nOrders,
      inputRows("lineitem"), FilesPerGen)
    commitClustered(o, "orders", "o_orderkey", nOrders, nOrders, FilesPerGen, gens = 1)
    commitClustered(c, "customer", "c_custkey", nCust, nCust, 2, gens = 1)
    spark.sql("CALL snap_cat.system.analyze('lineitem', 'l_orderkey')").collect()
    spark.sql("CALL snap_cat.system.analyze('orders', 'o_orderkey')").collect()
    spark.sql("CALL snap_cat.system.index_bloom('lineitem', 'l_partkey')").collect()
    travelBound = liBounds(TravelGen)
    // Rows the time-travel read offers, from the committed footers.
    val travelRows = SnapshotTable.footerRowCounts(spark,
      SnapshotTable.listFiles(spark, root("lineitem"), TravelGen)).map(_._2).sum
    rows = inputRows ++ Map("lineitem_travel" -> travelRows)
  }

  /** (name, SQL template, tables scanned). `{li}`, `{o}`, `{c}` and
    * `{li_tt}` name the tables; [[spark]] and [[duck]] bind them.
    */
  private def statements: Seq[(String, String, Seq[String])] = {
    val lo = nOrders * 2 / 5
    Seq(
      ("range_zone",
        s"SELECT count(*) AS n, sum(l_quantity) AS q FROM {li} " +
          s"WHERE l_orderkey BETWEEN $lo AND ${lo + 999}", Seq("lineitem")),
      ("bloom_point",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM {li} " +
          s"WHERE l_partkey = ${nPart / 3}", Seq("lineitem")),
      ("string_probe",
        "SELECT c_custkey, c_acctbal, c_mktsegment FROM {c} " +
          f"WHERE c_name = 'Customer#${nCust / 2}%09d'", Seq("customer")),
      ("topn",
        "SELECT o_orderkey, o_totalprice FROM {o} " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20", Seq("orders")),
      ("limit",
        "SELECT count(*) AS n FROM (SELECT o_orderkey FROM {o} " +
          "WHERE o_orderstatus = 'F' LIMIT 500) t", Seq("orders")),
      ("manifest_agg",
        "SELECT count(*) AS n, min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM {li}",
        Seq("lineitem")),
      ("join3",
        "SELECT c.c_mktsegment, count(*) AS n, sum(l.l_quantity) AS q, " +
          "sum(l.l_extendedprice * (1 - l.l_discount)) AS rev " +
          "FROM {li} l JOIN {o} o ON l.l_orderkey = o.o_orderkey " +
          "JOIN {c} c ON o.o_custkey = c.c_custkey " +
          "WHERE o.o_orderpriority = '1-URGENT' GROUP BY c.c_mktsegment",
        Seq("lineitem", "orders", "customer")),
      ("full_agg",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, " +
          "avg(l_discount) AS d FROM {li} GROUP BY l_returnflag, l_linestatus",
        Seq("lineitem")),
      ("time_travel",
        "SELECT count(*) AS n, sum(l_quantity) AS q, max(l_orderkey) AS hi FROM {li_tt}",
        Seq("lineitem_travel")))
  }

  private def bind(t: String, names: Map[String, String]): String =
    names.foldLeft(t) { case (s, (k, v)) => s.replace(s"{$k}", v) }

  private def spark(t: String) = bind(t, Map("li_tt" -> s"snap_cat.lineitem VERSION AS OF $TravelGen",
    "li" -> "snap_cat.lineitem", "o" -> "snap_cat.orders", "c" -> "snap_cat.customer"))

  private def duck(t: String) = bind(t, Map(
    "li_tt" -> s"(SELECT * FROM lineitem WHERE l_orderkey < $travelBound) tt",
    "li" -> "lineitem", "o" -> "orders", "c" -> "customer"))

  private def canon(rs: Array[Row]): Seq[String] = rs.map(_.toString).toSeq.sorted

  /** Results are a few rows, so the client saves them without a Spark job. */
  def check(ctx: Ctx): Unit = statements.foreach { case (name, t, _) =>
    val out = s"$work/check/$name.json"
    if (ctx.attempt(name) {
      val df = ctx.spark.sql(spark(t))
      val rs = df.collect()
      expected(name) = canon(rs)
      Files.createDirectories(Paths.get(out).getParent)
      Files.writeString(Paths.get(out), Json.render(Map(
        "columns" -> df.columns.toSeq, "rows" -> rs.toSeq.map(_.toSeq))))
    }) ctx.checks += Map("name" -> name, "kind" -> "sql", "path" -> out, "sql" -> duck(t))
  }

  /** Each pass runs the statements this many times over, so the latency
    * percentiles rest on more samples than the mix has statements.
    */
  private val Rounds = 3

  def pass(ctx: Ctx, p: Int): Unit = for (_ <- 1 to Rounds; (name, t, scanned) <- statements) {
    val tables = scanned.map(_.stripSuffix("_travel")).distinct
    val before = tables.map(x => SnapshotSource.planHistory(root(x)))
    var df: DataFrame = null
    ctx.timed("SnapshotSource", name) {
      df = ctx.spark.sql(spark(t))
      val got = canon(df.collect())
      if (!expected.get(name).contains(got))
        throw new IllegalStateException(s"$name result differs from the checked warm-up result")
    }
    if (ctx.trace.on && df != null) {
      val last = ctx.trace.last
      tables.zip(before).foreach { case (x, b) =>
        val h = SnapshotSource.planHistory(root(x))
        val gen = if (scanned.contains(s"${x}_travel")) TravelGen.toLong
          else SnapshotTable.generations(ctx.spark, root(x)).max
        last.add("files_in_generation", SnapshotTable.listFiles(ctx.spark, root(x), gen).size)
        if (!(h eq b)) last.add("files_scanned", h.last._1)
      }
      last.add("scan_partitions", Trace.walk(df.queryExecution.executedPlan).collect {
        case b: BatchScanExec => b.inputPartitions.size
      }.sum)
    }
  }

  def rowsPerPass: Long = Rounds * statements.map(_._3.map(rows).sum).sum
}
