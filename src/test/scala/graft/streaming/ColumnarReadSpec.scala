package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable

/** The connector's decode through Spark's own parquet reader
  * ([[SnapshotReaderFactory]]) — parity with `spark.read.parquet` over
  * the same committed files across every type including nulls, on both
  * the vectorized and the row path; row-group skipping read off the
  * scan's own output-row metric; schema-evolution null vectors; and the
  * plan-shape evidence that the columnar path actually engages (the
  * value gates alone cannot show WHICH decoder produced the rows).
  */
class ColumnarReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val provider = classOf[SnapshotSourceProvider].getName

  test("columnar and row decoders agree on every type, nulls included") {
    import spark.implicits._
    val t = graft.Scratch.dir("columnar_parity")
    val df = spark.range(10000L).select(
      col("id").as("k"),
      when(col("id") % 7 === 0, null).otherwise(col("id") * 3).as("l"),
      when(col("id") % 5 === 0, null)
        .otherwise(col("id").cast("int")).as("i"),
      when(col("id") % 3 === 0, null)
        .otherwise(col("id").cast("double") / 7.0).as("d"),
      (col("id") % 11).cast("float").as("f"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") % 13 === 0, null)
        .otherwise(concat(lit("s_"), col("id"))).as("s"),
      encode(concat(lit("b_"), col("id")), "UTF-8").as("bin"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 365).cast("int"))
        .as("dt"))
    SnapshotTable.commit(df.repartition(3), t, 1L)

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").collect().map(_.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case v => v
      }).toSeq
    // Ground truth: Spark's own reader over the committed files.
    val truth = canon(spark.read.parquet(SnapshotTable.listFiles(spark, t, 1L): _*))
    val colwise = canon(spark.read.format(provider).load(t))
    // The row path: Spark's parquet row reader, which the factory
    // takes whenever the vectorized reader is off.
    val key = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(key, "false")
    val rowwise =
      try canon(spark.read.format(provider).load(t))
      finally spark.conf.unset(key)
    assert(truth.length === 10000)
    assert(colwise === truth)
    assert(rowwise === truth)
    // And the columnar path actually engaged.
    val plan = spark.read.format(provider).load(t).select("k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"the connector read must take the vectorized path; got:\n$plan")
  }

  test("pushed range probes skip row groups inside admitted files") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val t = graft.Scratch.dir("rowgroup_skip")
    val file = s"$t/data/gen=1/part-00000.parquet"
    // One sorted multi-row-group file (tiny row groups force many
    // groups — production's many-groups-per-GB-file shape in
    // miniature); publish it as a plain path-only manifest so FILE
    // pruning cannot help and any skipping must happen at the row
    // group level.
    val msg = SnapshotSource.messageTypeOf(StructType(Seq(
      StructField("k", LongType), StructField("v", LongType))))
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sessionState.newHadoopConf())
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(msg, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withConf(conf).withRowGroupSize(4096L).build()
    val fac = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
    (0L until 20000L).foreach { k =>
      val g = fac.newGroup()
      g.add("k", k)
      g.add("v", k * 2)
      w.write(g)
    }
    w.close()
    SnapshotTable.publish(spark, t, 1L, Seq(file))
    val groupRows = {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).toSeq
      finally r.close()
    }
    val nGroups = groupRows.size
    assert(nGroups >= 4, s"fixture must span several row groups; got $nGroups")
    // One execution of a one-row `sum`: its value and the rows the
    // executed scan produced (its `numOutputRows` metric) — the decoded
    // row groups' rows, before Spark's residual filter.
    def run(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val v = df.collect().head.getLong(0)
      val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
        }
      assert(scans.size === 1)
      (v, scans.head.metrics("numOutputRows").value)
    }
    val (got, read) = run(spark.read.format(provider).load(t)
      .filter(col("k") >= 100L && col("k") <= 200L).agg(sum("v")))
    assert(got === (100L to 200L).map(_ * 2).sum)
    val twoLargest = groupRows.sorted.takeRight(2).sum
    assert(read >= 101L && read <= twoLargest,
      s"the [100, 200] probe spans at most 2 of $nGroups sorted groups " +
        s"(<= $twoLargest rows together); the scan read $read rows")
    // An unfiltered scan still reads everything (no false skips).
    // sum, not count(): a bare count() is answered from MANIFEST stats
    // (the aggregate pushdown) and reads no row group.
    val (all, readAll) = run(spark.read.format(provider).load(t).agg(sum("v")))
    assert(all === (0L until 20000L).map(_ * 2).sum)
    assert(readAll === 20000L)
  }

  test("schema evolution serves null vectors for columns the file never carried") {
    import spark.implicits._
    val t = graft.Scratch.dir("columnar_evo")
    SnapshotTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, 1L)
    SnapshotTable.commit(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "extra"),
      t, 2L, carryFrom = Some(1L))
    val got = spark.read.format(provider).load(t)
      .orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(got.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq
      === Seq(-1L, -1L, 30L, 40L))
  }
}
