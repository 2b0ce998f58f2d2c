package graft.sources

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.TestSpark

/** Parity drill of the connector's one predicate-pushdown path
  * ([[graft.streaming.PushedPredicates]]): random conjunctions of 1–3
  * comparisons over every pushable column type — `=`, `<`, `<=`, `>`,
  * `>=` and IN lists with NULL members, column-first and literal-first,
  * extreme BIGINT literals, decimals at other scales than the column's
  * — read through `snap_cat` must return exactly what Spark's own
  * parquet reader returns over the generation's files. Every table
  * records footer zone maps on each numeric column and a bloom sidecar
  * on every column, so every pruning level (zone maps, integer and
  * string blooms, row-group statistics) is live; a wrong translation
  * skips a file or row group that holds a matching row and breaks the
  * compare. Every fourth case also runs the SQL DELETE on a fresh table
  * and requires the survivors to be exactly the rows where the
  * predicate is not TRUE.
  */
object PushdownProps extends Properties("Pushdown") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(100)

  private lazy val spark = TestSpark.spark

  private val Cols = Seq("i", "l", "d", "ts", "ntz", "dec", "s")

  /** 8 files × 50 rows; every column carries some NULLs. `l` is sorted
    * across files (zone maps prune it) and spans the whole BIGINT
    * range; the other columns interleave, so only blooms and row
    * groups can skip on them.
    */
  private val RowExprs = Seq(
    "CASE WHEN id % 17 = 0 THEN NULL ELSE CAST((id * 7) % 113 - 50 AS INT) END AS i",
    s"CASE WHEN id = 0 THEN CAST(${Long.MinValue} AS BIGINT) " +
      s"WHEN id = 399 THEN CAST(${Long.MaxValue} AS BIGINT) " +
      "WHEN id % 31 = 9 THEN NULL ELSE id * 1000 - 200000 END AS l",
    "CASE WHEN id % 23 = 5 THEN NULL " +
      "ELSE date_add(DATE '2024-01-01', CAST(id % 97 AS INT)) END AS d",
    "CASE WHEN id % 37 = 2 THEN NULL " +
      "ELSE timestamp_seconds(1704067200 + ((id * 53) % 400) * 3600) END AS ts",
    "CASE WHEN id % 41 = 11 THEN NULL ELSE CAST(timestamp_seconds(" +
      "1704067200 + ((id * 37) % 400) * 3600) AS TIMESTAMP_NTZ) END AS ntz",
    "CASE WHEN id % 19 = 3 THEN NULL " +
      "ELSE CAST(((id * 13) % 500) * 0.25 AS DECIMAL(12,2)) END AS dec",
    "CASE WHEN id % 29 = 7 THEN NULL " +
      "ELSE concat('s', CAST((id * 11) % 60 AS STRING)) END AS s")

  /** A fresh snapshot table named `name` in `snap_cat`'s warehouse:
    * one generation of 8 files, zone maps from the footers of every
    * numeric column, a bloom sidecar on every column. Returns the
    * generation's files.
    */
  private def build(name: String): Seq[String] = {
    val t = graft.Scratch.dir(name)
    val dataDir = s"$t/data/gen=1"
    TestSpark.withConf(
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      spark.range(0, 400, 1, 8).selectExpr(RowExprs: _*)
        .write.mode("overwrite").parquet(dataDir)
    }
    val files = SnapshotTable.freshFiles(spark, dataDir)
    SnapshotTable.publishStats(spark, t, 1L,
      SnapshotTable.footerStats(spark, files, Cols.filterNot(_ == "s")))
    Cols.foreach(c => SnapshotTable.writeBloomIndex(spark, t, c, files))
    files
  }

  private lazy val baseFiles: Seq[String] = {
    spark.conf.set("spark.sql.catalog.snap_cat",
      classOf[graft.streaming.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap_cat.warehouse",
      new org.apache.hadoop.fs.Path(graft.Scratch.dir("pushprops_base"))
        .getParent.toString)
    build("pushprops_base")
  }

  private def hours(h: Int): String =
    java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(h.toLong)
      .plusMinutes(if (h % 3 == 0) 30L else 0L).toString.replace('T', ' ')

  /** One SQL literal for each column, drawn around (and beyond) the
    * column's data range.
    */
  private val literalOf: Map[String, Gen[String]] = Map(
    "i" -> Gen.frequency(
      9 -> Gen.chooseNum(-60, 70).map(_.toString),
      1 -> Gen.oneOf(Int.MinValue.toString, Int.MaxValue.toString,
        s"CAST(${Long.MaxValue} AS BIGINT)")),
    "l" -> Gen.frequency(
      8 -> Gen.chooseNum(-210L, 410L).flatMap(k =>
        Gen.oneOf(k * 1000L, k * 1000L + 500L)).map(v => s"CAST($v AS BIGINT)"),
      2 -> Gen.oneOf(Long.MinValue, Long.MaxValue, Long.MinValue + 1L,
        Long.MaxValue - 1L).map(v => s"CAST($v AS BIGINT)")),
    "d" -> Gen.chooseNum(-5, 100).map(k =>
      s"DATE '${java.time.LocalDate.of(2024, 1, 1).plusDays(k.toLong)}'"),
    "ts" -> Gen.chooseNum(-5, 405).map(h => s"TIMESTAMP '${hours(h)}'"),
    "ntz" -> Gen.chooseNum(-5, 405).map(h => s"TIMESTAMP_NTZ '${hours(h)}'"),
    // Scales 0–3 against the column's 2: exact rescales and literals
    // that fall between two representable column values.
    "dec" -> Gen.zip(Gen.chooseNum(-100L, 130000L), Gen.chooseNum(0, 3))
      .map { case (u, sc) => java.math.BigDecimal.valueOf(u, sc).toPlainString },
    "s" -> Gen.frequency(
      9 -> Gen.chooseNum(0, 70).map(n => s"'s$n'"),
      1 -> Gen.oneOf("''", "'zz'")))

  private val genAtom: Gen[String] = for {
    c <- Gen.oneOf(Cols)
    lit = literalOf(c)
    atom <- Gen.frequency(
      3 -> Gen.zip(Gen.oneOf("=", "<", "<=", ">", ">="), lit, Gen.oneOf(true, false))
        .map { case (op, v, litFirst) =>
          if (litFirst) s"$v $op $c" else s"$c $op $v" },
      1 -> Gen.chooseNum(1, 12).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(6 -> lit, 1 -> Gen.const("NULL"))))
        .map(vs => s"$c IN (${vs.mkString(", ")})"))
  } yield atom

  private val genPredicate: Gen[String] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, genAtom))
      .map(_.mkString(" AND "))

  private def checksum(from: String, where: String): (Long, Long) = {
    val r = spark.sql(s"SELECT count(*), coalesce(sum(hash(${Cols.mkString(", ")})), 0) " +
      s"FROM $from WHERE $where").head()
    (r.getLong(0), r.getLong(1))
  }

  private def rowsOf(sql: String): Seq[String] =
    spark.sql(sql).collect().map(_.toString).toSeq.sorted

  private val seq = new java.util.concurrent.atomic.AtomicLong()

  property("snap_cat SELECT and DELETE match Spark's parquet reader") =
    Prop.forAllNoShrink(genPredicate) { pred =>
      spark.read.parquet(baseFiles: _*).createOrReplaceTempView("pushprops_parquet")
      val selectOk = checksum("snap_cat.pushprops_base", pred) ==
        checksum("pushprops_parquet", pred)
      val n = seq.incrementAndGet()
      val deleteOk = n % 4 != 1 || {
        val name = s"pushprops_del_$n"
        val files = build(name)
        spark.read.parquet(files: _*).createOrReplaceTempView("pushprops_del_src")
        val want = rowsOf(
          s"SELECT * FROM pushprops_del_src WHERE NOT coalesce($pred, false)")
        spark.sql(s"DELETE FROM snap_cat.$name WHERE $pred")
        rowsOf(s"SELECT * FROM snap_cat.$name") == want
      }
      (Prop(selectOk) :| s"SELECT parity: $pred") &&
        (Prop(deleteOk) :| s"DELETE survivors: $pred")
    }
}
