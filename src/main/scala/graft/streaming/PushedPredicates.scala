package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expression, Literal}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.SnapshotTable

/** A pushed CONJUNCTION in the three forms the snapshot layer prunes
  * with — the one value compile-time pushdown, runtime (DPP / group)
  * filters and the SQL DELETE pushdown all translate into:
  *
  *  - `bounds`: per-column `[lo, hi]` in the column's PHYSICAL long
  *    domain (manifest zone maps, row-group footer statistics);
  *  - `probes`: exact integer point sets for the bloom sidecars and
  *    row-group statistics;
  *  - `strProbes`: exact string point sets for the bloom sidecars.
  *
  * Every form only ever SKIPS files or row groups a conjunct proves
  * row-free, so an unrecognized conjunct is simply absent (sound: the
  * admitted set is a superset of the AND's matches), and every pushed
  * predicate stays a residual Spark re-applies row by row. Several
  * probe sets on one column intersect; an empty intersection
  * (`c = 1 AND c IN (2)`) is an unsatisfiable scan that admits no
  * file.
  */
private[graft] case class PushedPredicates(
    bounds: Map[String, (Long, Long)] = Map.empty,
    probes: Map[String, Seq[Long]] = Map.empty,
    strProbes: Map[String, Seq[String]] = Map.empty) {

  def isEmpty: Boolean = bounds.isEmpty && probes.isEmpty && strProbes.isEmpty

  def nonEmpty: Boolean = !isEmpty

  /** The conjunction of both: intervals intersect, point sets
    * intersect.
    */
  def and(o: PushedPredicates): PushedPredicates = {
    def merge[A](a: Map[String, A], b: Map[String, A])(f: (A, A) => A) =
      b.foldLeft(a) { case (acc, (c, v)) =>
        acc.updated(c, acc.get(c).fold(v)(f(_, v)))
      }
    PushedPredicates(
      merge(bounds, o.bounds)((x, y) => (x._1 max y._1, x._2 min y._2)),
      merge(probes, o.probes)(_ intersect _),
      merge(strProbes, o.strProbes)(_ intersect _))
  }

  /** Generation `gen`'s files of `table` this conjunction admits —
    * THE file-admission rule of every pruning caller: zone-map bounds
    * first, then the bloom sidecars for the point probes (the axis
    * zone maps cannot prune when every file spans the column's
    * domain). Integer probes render as `Long.toString`, byte-for-byte
    * the build side's `k.cast("string")` on INT/BIGINT; string probes
    * are their own rendering. A column without a sidecar, or a file
    * the sidecar never indexed, admits conservatively.
    */
  def admittedFiles(spark: SparkSession, table: String,
      gen: Long): Seq[String] = {
    val rendered = probes.iterator.map { case (c, vs) =>
      c -> vs.map(_.toString)
    } ++ strProbes.iterator
    rendered.foldLeft(SnapshotTable.admittedFiles(spark, table, gen, bounds)) {
      case (files, (c, vs)) =>
        if (vs.isEmpty) Seq.empty
        else if (files.nonEmpty && SnapshotTable.hasBloomIndex(spark, table, c))
          SnapshotTable.bloomAdmittedFilesRendered(spark, table, c, vs, files)
        else files
    }
  }
}

private[graft] object PushedPredicates {

  val empty: PushedPredicates = PushedPredicates()

  /** The conjunction of `predicates` over columns typed by `schema`,
    * built in ONE pass over the conjuncts (nested ANDs flatten). The
    * column's DECLARED type decides which forms a comparison yields:
    *
    *  - bounds for the physical-long types ([[physicalLong]]): INT,
    *    BIGINT, DATE, TIMESTAMP, TIMESTAMP_NTZ and DECIMAL up to 18
    *    digits, from `=`, `<`, `<=`, `>`, `>=` and an IN list's
    *    `[min, max]` envelope;
    *  - integer probes for INT and BIGINT only, from `=` and IN — the
    *    types whose `Long.toString` IS Spark's cast to string, the
    *    bloom build side's key domain (a DATE's epoch-day number
    *    would hash as `"19723"` where the sidecar holds
    *    `"2024-02-12"`);
    *  - string probes for binary-collation STRING only, from `=` and
    *    IN (strings never range-prune).
    *
    * Literal-first comparisons (`5 < c`) translate mirrored. An IN
    * list with a NULL or otherwise untranslatable member yields
    * nothing, as does a NULL comparison literal.
    */
  def of(predicates: Array[Predicate], schema: StructType): PushedPredicates = {
    val typeOf = schema.fields.iterator.map(f => f.name -> f.dataType).toMap
    def conjuncts(p: Predicate): Seq[Predicate] =
      if (p.name() == "AND")
        p.children().toSeq.collect { case q: Predicate => q }.flatMap(conjuncts)
      else Seq(p)
    predicates.iterator.flatMap(conjuncts).foldLeft(empty)((acc, p) =>
      acc.and(one(p, typeOf)))
  }

  private val Mirrored =
    Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  private def one(p: Predicate,
      typeOf: Map[String, DataType]): PushedPredicates = {
    // (column, its type, literal values) of a column-vs-literals shape.
    def colLits(c: Expression, ls: Seq[Expression])
        : Option[(String, DataType, Seq[Any])] =
      for {
        name <- SnapshotSource.v2Col(c)
        dt <- typeOf.get(name)
        vs = ls.collect { case l: Literal[_] => l.value(): Any }
        if ls.nonEmpty && vs.size == ls.size && !vs.contains(null)
      } yield (name, dt, vs)
    (p.name(), p.children().toSeq) match {
      case ("IN", a +: rest) => colLits(a, rest).fold(empty)(in)
      case (op, Seq(a, b)) if Mirrored.contains(op) =>
        colLits(a, Seq(b)).map((op, _))
          .orElse(colLits(b, Seq(a)).map((Mirrored(op), _)))
          .fold(empty) {
            case ("=", cl) => in(cl)
            case (o, (c, dt, vs)) => range(o, c, dt, vs.head)
          }
      case _ => empty
    }
  }

  /** `c IN vs`, and `c = v` as its one-value case: the values'
    * `[min, max]` envelope bounds the column (a file spanning the gap
    * between two values still admits; the probes test exact
    * membership). Each form applies only when every value translates.
    */
  private def in(cl: (String, DataType, Seq[Any])): PushedPredicates = {
    val (c, dt, vs) = cl
    def all[A](f: Any => Option[A]): Map[String, Seq[A]] = {
      val xs = vs.map(f)
      if (xs.forall(_.isDefined)) Map(c -> xs.flatten.distinct) else Map.empty
    }
    PushedPredicates(
      all(physicalLong(dt, _)).map { case (k, l) => k -> ((l.min, l.max)) },
      all(intProbe(dt, _)),
      all(strProbe(dt, _)))
  }

  private def range(op: String, c: String, dt: DataType,
      v: Any): PushedPredicates =
    PushedPredicates(bounds = physicalLong(dt, v).collect {
      case l if op == ">" && l < Long.MaxValue => (l + 1, Long.MaxValue)
      case l if op == ">=" => (l, Long.MaxValue)
      case l if op == "<" && l > Long.MinValue => (Long.MinValue, l - 1)
      case l if op == "<=" => (Long.MinValue, l)
    }.map(c -> _).toMap)

  private def intProbe(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (IntegerType, i: java.lang.Integer) => Some(i.longValue)
    case (LongType, l: java.lang.Long) => Some(l.longValue)
    case _ => None
  }

  private def strProbe(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (StringType, u: UTF8String) => Some(u.toString)
    case _ => None
  }

  /** A V2 literal (Catalyst-INTERNAL value) as its column's PHYSICAL
    * long — the domain every stats layer here lives in (manifest zone
    * maps, row-group footer statistics): INT and DATE (epoch days) as
    * the INT32 value; BIGINT, TIMESTAMP and TIMESTAMP_NTZ (epoch
    * micros, the connector writer's INT64 form — files storing INT96
    * carry no usable stats and admit conservatively anyway) as the
    * INT64 value; DECIMAL up to 18 digits as the unscaled value at the
    * COLUMN's scale, EXACT-OR-REFUSE: a literal that would need
    * rounding yields None and pruning degrades to admit-everything,
    * because a wrong unscaled bound would skip files holding matching
    * rows — the one failure pruning must never have.
    */
  def physicalLong(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (IntegerType | DateType, i: java.lang.Integer) => Some(i.longValue)
    case (LongType | TimestampType | TimestampNTZType, l: java.lang.Long) =>
      Some(l.longValue)
    case (d: DecimalType, x: Decimal) if d.precision <= 18 =>
      try Some(x.toJavaBigDecimal.setScale(d.scale).unscaledValue.longValueExact)
      catch { case _: ArithmeticException => None }
    case _ => None
  }
}
