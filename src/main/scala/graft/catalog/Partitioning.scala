package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Murmur3Hash, Pmod, Substring, Year => YearExpr}
import org.apache.spark.sql.catalyst.expressions.{DateFormatClass}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** One field of an Iceberg-style partition spec: a TRANSFORM of a source
  * column, identified by its stable field id (so the spec survives column
  * renames, exactly like Iceberg's `source-id`). `transform` grammar:
  * `identity | year | month | day | hour | bucket[N] | truncate[W]`.
  * `name` is the partition field's own name (the key files record their
  * partition value under). This is HIDDEN partitioning: queries filter on
  * the SOURCE column; the engine projects those predicates through the
  * transform to prune files (Iceberg spec "Partition Transforms" +
  * "Scan Planning"; the reference serves Iceberg tables where this is the
  * table format's core planning feature). */
case class PartitionField(sourceId: Int, transform: String, name: String)

/** Partition-transform computation and predicate projection.
  *
  * DESIGN INVARIANT: the write side ([[valueColumn]], a Spark Column) and
  * the prune side ([[canonical]], driver-side evaluation of a literal)
  * build the SAME catalyst expression nodes, so a partition value computed
  * by executors during a partitioned write is byte-identical to the value
  * the planner projects a query literal to. Any divergence here is a
  * correctness bug (pruning would drop live files), which is why both
  * paths share one expression builder instead of re-deriving semantics.
  *
  * Scale note: everything in this object is metadata-side — O(files) driver
  * work at plan time, no job, no shuffle — the same cost model as Iceberg
  * manifest pruning. */
object Partitioning {

  /** What Spark's `partitionBy` writes for a null partition value; reused
    * verbatim as the in-metadata null marker so directory parsing is the
    * identity. */
  val NullValue = "__HIVE_DEFAULT_PARTITION__"

  private case class Parsed(kind: String, param: Int)

  private def parse(t: String): Parsed = t match {
    case "identity" | "year" | "month" | "day" | "hour" => Parsed(t, 0)
    case s if s.startsWith("bucket[") && s.endsWith("]") =>
      val n = s.stripPrefix("bucket[").stripSuffix("]").toInt
      require(n > 0, s"bucket width must be positive: $t"); Parsed("bucket", n)
    case s if s.startsWith("truncate[") && s.endsWith("]") =>
      val w = s.stripPrefix("truncate[").stripSuffix("]").toInt
      require(w > 0, s"truncate width must be positive: $t"); Parsed("truncate", w)
    case other => throw new IllegalArgumentException(
      s"unknown partition transform: $other")
  }

  /** Default partition-field name, Iceberg-style (`ts_day`, `id_bucket`). */
  def defaultName(transform: String, srcName: String): String =
    parse(transform).kind match {
      case "identity" => srcName
      case k          => s"${srcName}_$k"
    }

  /** Catalyst expression computing the CANONICAL (string) partition value
    * of `src`. Shared by the write-side Column and the prune-side literal
    * evaluation — see the class invariant above. `tz` is the session
    * timezone the time transforms resolve in. */
  private def valueExpr(transform: String, srcType: DataType, src: Expression,
                        tz: String): Expression = {
    val p = parse(transform)
    def asTs = srcType match {
      case TimestampType    => src
      case DateType         => Cast(src, TimestampType, Some(tz))
      // NTZ wall-clock re-interpreted in the session tz — the same cast
      // the analyzer inserts for date_format(ntz_col, ...)
      case TimestampNTZType => Cast(src, TimestampType, Some(tz))
      case other => throw new IllegalArgumentException(
        s"${p.kind} transform needs DATE/TIMESTAMP input, got ${other.sql}")
    }
    def fmt(pattern: String) =
      DateFormatClass(asTs, Literal(pattern), Some(tz))
    p.kind match {
      case "identity" => srcType match {
        case TimestampType | TimestampNTZType => fmt("yyyy-MM-dd HH:mm:ss.SSSSSS")
        case _             => Cast(src, StringType, Some(tz))
      }
      case "year" => srcType match {
        case DateType => Cast(YearExpr(src), StringType, Some(tz))
        case _        => Cast(YearExpr(Cast(asTs, DateType, Some(tz))),
                              StringType, Some(tz))
      }
      case "month" => fmt("yyyy-MM")
      case "day"   => fmt("yyyy-MM-dd")
      case "hour"  => fmt("yyyy-MM-dd-HH")
      case "bucket" =>
        // Murmur3 (seed 42, same as functions.hash) of the SOURCE value,
        // mod N — deterministic across executors and driver
        Cast(Pmod(new Murmur3Hash(Seq(src)), Literal(p.param)), StringType, Some(tz))
      case "truncate" => srcType match {
        case StringType => Substring(src, Literal(1), Literal(p.param))
        case ByteType | ShortType | IntegerType | LongType =>
          // floor to a multiple of W (negative-safe: pmod >= 0)
          Cast(org.apache.spark.sql.catalyst.expressions.Subtract(
            Cast(src, LongType, Some(tz)),
            Pmod(Cast(src, LongType, Some(tz)), Literal(p.param.toLong))),
            StringType, Some(tz))
        case other => throw new IllegalArgumentException(
          s"truncate transform needs STRING/integral input, got ${other.sql}")
      }
    }
  }

  private def sessionTz: String = SQLConf.get.sessionLocalTimeZone

  /** Write-side partition value as a Spark Column (canonical string).
    * Built from the PUBLIC functions API, which constructs the same
    * catalyst nodes [[valueExpr]] evaluates driver-side (`hash` →
    * Murmur3Hash seed 42, `date_format` → DateFormatClass, casts pick up
    * the session timezone either way); PartitioningSpec pins the
    * write-vs-prune canonical equality per transform × type. */
  def valueColumn(transform: String, srcName: String, srcType: DataType): Column = {
    val p = parse(transform)
    val src = col(srcName)
    // validate transform × type compatibility eagerly (same checks as the
    // expression builder) so createTable rejects a bad spec up front
    valueExpr(transform, srcType, Literal(null, srcType), sessionTz)
    p.kind match {
      case "identity" => srcType match {
        case TimestampType => date_format(src, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        case _             => src.cast("string")
      }
      case "year"  => year(src).cast("string")
      case "month" => date_format(src, "yyyy-MM")
      case "day"   => date_format(src, "yyyy-MM-dd")
      case "hour"  => date_format(src, "yyyy-MM-dd-HH")
      case "bucket" => pmod(hash(src), lit(p.param)).cast("string")
      case "truncate" => srcType match {
        case StringType => substring(src, 1, p.param)
        case _ =>
          (src.cast("long") - pmod(src.cast("long"), lit(p.param.toLong)))
            .cast("string")
      }
    }
  }

  /** Prune-side projection of a query literal `v` (external JVM form, as
    * carried by `sources.Filter`) to the canonical partition value. None
    * when the literal's transform result is null or the combination is
    * unsupported — callers must then keep the file (conservative). */
  def canonical(transform: String, srcType: DataType, v: Any): Option[String] =
    try {
      if (v == null) return None
      val lit = Literal.create(v, srcType)
      Option(valueExpr(transform, srcType, lit, sessionTz).eval(null))
        .map(_.toString)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Canonical bucket value of NULL input (Murmur3 leaves the seed
    * untouched for a null child, so null rows land in a deterministic
    * bucket rather than the null partition). */
  def bucketOfNull(transform: String, srcType: DataType): Option[String] =
    try Option(valueExpr(transform, srcType, Literal(null, srcType), sessionTz)
      .eval(null)).map(_.toString)
    catch { case scala.util.control.NonFatal(_) => None }

  private def isBucket(t: String): Boolean = parse(t).kind == "bucket"

  /** Order-preserving transforms: x <= y implies T(x) <= T(y) under the
    * canonical ordering — the precondition for projecting range
    * predicates (Iceberg's "inclusive projection" of monotonic
    * transforms). */
  private def isMonotonic(t: String): Boolean = !isBucket(t)

  /** Canonical values compare numerically for numeric-shaped canonicals
    * (year "2024", bucket "3", truncate-int "-8", identity over numbers),
    * lexically otherwise (fixed-width date formats, strings). */
  private def numericCanonical(t: String, srcType: DataType): Boolean =
    parse(t).kind match {
      case "year" | "bucket" => true
      case "truncate" => srcType != StringType
      case "identity" => srcType match {
        case _: NumericType => true
        case _              => false
      }
      case _ => false
    }

  private def cmp(t: String, srcType: DataType, a: String, b: String): Int =
    if (numericCanonical(t, srcType)) BigDecimal(a).compare(BigDecimal(b))
    else a.compareTo(b)

  /** Can rows of a file whose partition value for (`transform`, `srcType`)
    * is `pv` satisfy `filter` on the SOURCE column? Inclusive projection:
    * false ONLY when provably no row can match. `pv == NullValue` means
    * every row's source value is null in this file (null-propagating
    * transforms; bucket never produces it — see [[bucketOfNull]]). */
  private def fieldKeeps(transform: String, srcType: DataType, pv: String,
                         filter: sources.Filter): Boolean = {
    val isNullPart = pv == NullValue
    def proj(v: Any): Option[String] = canonical(transform, srcType, v)
    filter match {
      case sources.EqualTo(_, v) =>
        if (v == null) true
        else if (isNullPart) false // null = v is never TRUE
        else proj(v).forall(_ == pv)
      case sources.EqualNullSafe(_, v) =>
        if (v == null) {
          if (isBucket(transform)) bucketOfNull(transform, srcType).forall(_ == pv)
          else isNullPart
        } else if (isNullPart) false
        else proj(v).forall(_ == pv)
      case sources.In(_, vs) =>
        if (isNullPart) false // col IN (...) is NULL for null col, never TRUE
        else {
          val projected = vs.filter(_ != null).map(proj)
          projected.exists(_.isEmpty) || projected.flatten.contains(pv)
        }
      // range predicates: a comparison with null is never TRUE, so an
      // all-null partition prunes; bucket destroys order, so only the
      // monotonic transforms project ranges (inclusive: >= / <= both ways
      // because rows inside the boundary partition can fall either side)
      case sources.GreaterThan(_, v) =>
        if (isNullPart || v == null) false
        else if (!isMonotonic(transform)) true
        else proj(v).forall(cv => cmp(transform, srcType, pv, cv) >= 0)
      case sources.GreaterThanOrEqual(_, v) =>
        if (isNullPart || v == null) false
        else if (!isMonotonic(transform)) true
        else proj(v).forall(cv => cmp(transform, srcType, pv, cv) >= 0)
      case sources.LessThan(_, v) =>
        if (isNullPart || v == null) false
        else if (!isMonotonic(transform)) true
        else proj(v).forall(cv => cmp(transform, srcType, pv, cv) <= 0)
      case sources.LessThanOrEqual(_, v) =>
        if (isNullPart || v == null) false
        else if (!isMonotonic(transform)) true
        else proj(v).forall(cv => cmp(transform, srcType, pv, cv) <= 0)
      case sources.IsNull(_) =>
        if (isBucket(transform)) bucketOfNull(transform, srcType).forall(_ == pv)
        else isNullPart
      case sources.IsNotNull(_) =>
        if (isBucket(transform)) true else !isNullPart
      case sources.StringStartsWith(_, p) if srcType == StringType =>
        parse(transform).kind match {
          case "identity" => !isNullPart && pv.startsWith(p)
          case "truncate" =>
            val w = parse(transform).param
            // rows share pv as their first min(len, W) chars
            !isNullPart &&
              (if (p.length <= w) pv.startsWith(p) else p.startsWith(pv))
          case _ => true
        }
      case sources.Not(sources.EqualTo(_, v))
          if parse(transform).kind == "identity" =>
        // identity: every row's value IS pv (or null) — exact evaluation
        if (isNullPart) false // NOT(null = v) is NULL, never TRUE
        else if (v == null) false
        else proj(v).forall(_ != pv)
      case _ => true // unknown/unprojectable: cannot prune
    }
  }

  /** Does `file` survive `filter`, given the table's partition spec and
    * the current schema (for source-id → name/type resolution)? And/Or
    * recurse; a filter that references no partition source keeps the
    * file. Files with no recorded partition tuple (e.g. registered before
    * the spec existed, or imported externally) are always kept. */
  def keepByPartition(spec: Seq[PartitionField], fields: Seq[FieldMeta],
                      file: DataFileMeta, filter: sources.Filter): Boolean = {
    val tuple = file.partition.getOrElse(return true)
    def refCol(f: sources.Filter): Seq[String] = f.references.toSeq
    def keep(f: sources.Filter): Boolean = f match {
      case sources.And(l, r) => keep(l) && keep(r)
      case sources.Or(l, r)  => keep(l) || keep(r)
      case _ =>
        refCol(f) match {
          case Seq(colName) =>
            // every spec field derived from this source column gets a veto
            spec.forall { pf =>
              fields.find(_.id == pf.sourceId) match {
                case Some(src) if src.name.equalsIgnoreCase(colName) =>
                  tuple.get(pf.name) match {
                    case Some(pv) => fieldKeeps(pf.transform, src.dataType, pv, f)
                    case None     => true
                  }
                case _ => true
              }
            }
          case _ => true // multi-column or no-column filter: cannot prune
        }
    }
    keep(filter)
  }

  /** Catalyst → `sources.Filter` translation for PRUNING (not residual
    * computation, which is why this is not Spark's own translator — that
    * one is `protected[sql]` and, more importantly, drops an `And` whose
    * one side is untranslatable; for pruning the translatable side alone
    * is still a correct file-veto). External-value conversion matches what
    * Spark's translator hands V1 sources. Anything unrecognized → None →
    * the caller cannot prune on it. */
  def translateForPruning(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[sources.Filter] = translateForPruning(e, strict = false)

  /** `strict` is set inside any negation: there a PARTIAL `And` would be
    * unsound (¬(l∧r) does not imply ¬l), so both sides must translate. */
  private def translateForPruning(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      strict: Boolean): Option[sources.Filter] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    def ext(l: ce.Literal): Any =
      CatalystTypeConverters.convertToScala(l.value, l.dataType)
    e match {
      case ce.EqualTo(a: ce.Attribute, l: ce.Literal) =>
        Some(sources.EqualTo(a.name, ext(l)))
      case ce.EqualTo(l: ce.Literal, a: ce.Attribute) =>
        Some(sources.EqualTo(a.name, ext(l)))
      case ce.EqualNullSafe(a: ce.Attribute, l: ce.Literal) =>
        Some(sources.EqualNullSafe(a.name, ext(l)))
      case ce.EqualNullSafe(l: ce.Literal, a: ce.Attribute) =>
        Some(sources.EqualNullSafe(a.name, ext(l)))
      case ce.GreaterThan(a: ce.Attribute, l: ce.Literal) =>
        Some(sources.GreaterThan(a.name, ext(l)))
      case ce.GreaterThan(l: ce.Literal, a: ce.Attribute) =>
        Some(sources.LessThan(a.name, ext(l)))
      case ce.GreaterThanOrEqual(a: ce.Attribute, l: ce.Literal) =>
        Some(sources.GreaterThanOrEqual(a.name, ext(l)))
      case ce.GreaterThanOrEqual(l: ce.Literal, a: ce.Attribute) =>
        Some(sources.LessThanOrEqual(a.name, ext(l)))
      case ce.LessThan(a: ce.Attribute, l: ce.Literal) =>
        Some(sources.LessThan(a.name, ext(l)))
      case ce.LessThan(l: ce.Literal, a: ce.Attribute) =>
        Some(sources.GreaterThan(a.name, ext(l)))
      case ce.LessThanOrEqual(a: ce.Attribute, l: ce.Literal) =>
        Some(sources.LessThanOrEqual(a.name, ext(l)))
      case ce.LessThanOrEqual(l: ce.Literal, a: ce.Attribute) =>
        Some(sources.GreaterThanOrEqual(a.name, ext(l)))
      case ce.In(a: ce.Attribute, vs) if vs.forall(_.isInstanceOf[ce.Literal]) =>
        Some(sources.In(a.name,
          vs.map(v => ext(v.asInstanceOf[ce.Literal])).toArray))
      case ce.InSet(a: ce.Attribute, set) =>
        Some(sources.In(a.name, set.toArray.map(v =>
          CatalystTypeConverters.convertToScala(v, a.dataType))))
      case ce.IsNull(a: ce.Attribute)    => Some(sources.IsNull(a.name))
      case ce.IsNotNull(a: ce.Attribute) => Some(sources.IsNotNull(a.name))
      case ce.StartsWith(a: ce.Attribute, ce.Literal(s, StringType))
          if s != null =>
        Some(sources.StringStartsWith(a.name, s.toString))
      case ce.And(l, r) =>
        (translateForPruning(l, strict), translateForPruning(r, strict)) match {
          case (Some(lf), Some(rf)) => Some(sources.And(lf, rf))
          case (one, other) =>
            if (strict) None else one.orElse(other) // pruning-safe if positive
        }
      case ce.Or(l, r) =>
        for { lf <- translateForPruning(l, strict)
              rf <- translateForPruning(r, strict) }
          yield sources.Or(lf, rf)
      case ce.Not(c) => translateForPruning(c, strict = true).map(sources.Not)
      case _ => None
    }
  }

  /** File-level min/max pruning from footer stats — the manifest-bounds
    * check Iceberg planners run alongside partition pruning. Conservative:
    * keeps on missing stats, unknown types, or unprojectable filters.
    * Numeric bounds are physical parquet values (DATE = days since epoch,
    * TIMESTAMP = micros), so literals convert through catalyst's internal
    * representation — the same encoding Spark writes. Each literal
    * converts once, when the test is built; apply the returned test to
    * every file of a scan. */
  def keepByStats(schema: StructType, filter: sources.Filter): DataFileMeta => Boolean = {
    def numLit(colName: String, v: Any): Option[Double] =
      if (v == null) None
      else schema.find(_.name.equalsIgnoreCase(colName)).flatMap { f =>
        try {
          val internal = Literal.create(v, f.dataType)
          (f.dataType, internal.value) match {
            case (ByteType | ShortType | IntegerType | LongType |
                  FloatType | DoubleType | DateType | TimestampType |
                  TimestampNTZType, x: Number) => Some(x.doubleValue())
            case _ => None
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    def numRange(file: DataFileMeta, c: String): Option[ColRange] =
      file.colRanges.flatMap(m => m.find(_._1.equalsIgnoreCase(c)).map(_._2))
    def strRange(file: DataFileMeta, c: String): Option[StrRange] =
      file.strRanges.flatMap(m => m.find(_._1.equalsIgnoreCase(c)).map(_._2))
    def strLit(v: Any): Option[String] = v match {
      case s: String => Some(s); case _ => None
    }
    // the numeric test when the literal converts and the file has bounds,
    // else the string test likewise, else keep
    def bound(a: String, v: Any)(num: (ColRange, Double) => Boolean,
                                 str: (StrRange, String) => Boolean)
        : DataFileMeta => Boolean = {
      val (d, s) = (numLit(a, v), strLit(v))
      file => d.flatMap(x => numRange(file, a).map(num(_, x)))
        .orElse(s.flatMap(x => strRange(file, a).map(str(_, x))))
        .getOrElse(true)
    }
    def equal(a: String, v: Any): DataFileMeta => Boolean =
      bound(a, v)((r, d) => r.min <= d && d <= r.max, (r, s) => r.min <= s && s <= r.max)
    def test(f: sources.Filter): DataFileMeta => Boolean = f match {
      case sources.And(l, r) =>
        val (tl, tr) = (test(l), test(r)); file => tl(file) && tr(file)
      case sources.Or(l, r) =>
        val (tl, tr) = (test(l), test(r)); file => tl(file) || tr(file)
      case sources.EqualTo(a, v) => equal(a, v)
      case sources.GreaterThan(a, v) =>
        bound(a, v)(_.max > _, _.max > _)
      case sources.GreaterThanOrEqual(a, v) =>
        bound(a, v)(_.max >= _, _.max >= _)
      case sources.LessThan(a, v) =>
        bound(a, v)(_.min < _, _.min < _)
      case sources.LessThanOrEqual(a, v) =>
        bound(a, v)(_.min <= _, _.min <= _)
      case sources.In(a, vs) if vs.nonEmpty =>
        val each = vs.toSeq.map(equal(a, _)); file => each.exists(_(file))
      case sources.StringStartsWith(a, p) =>
        file => strRange(file, a).forall { r =>
          // bounds are truncated (min' <= min, max' >= max): a value with
          // prefix p exists only if [p, p￿..) intersects [min, max]
          r.max >= p && r.min.take(p.length) <= p
        }
      case _ => _ => true
    }
    test(filter)
  }

  /** `lower <= column <= upper` over DOUBLE bounds as a pruning filter
    * whose literals carry the column's own type: [[keepByStats]] converts
    * each literal through the column's type and KEEPS the file when that
    * fails, so a Double bound on a LONG, INT or DATE column would prune
    * nothing. Integral and date (days since epoch) bounds round inward,
    * which keeps exactly the files whose [min, max] meets
    * [lower, upper]; other column types keep the Double. */
  def between(schema: StructType, column: String,
              lower: Double, upper: Double): sources.Filter = {
    val dt = schema.find(_.name.equalsIgnoreCase(column)).map(_.dataType)
    def typed(d: Double, isUpper: Boolean): Any = {
      val r = if (isUpper) math.floor(d) else math.ceil(d)
      def clamp(lo: Long, hi: Long): Long = math.max(lo, math.min(hi, r.toLong))
      dt match {
        case Some(LongType)    => r.toLong
        case Some(IntegerType) => clamp(Int.MinValue, Int.MaxValue).toInt
        case Some(ShortType)   => clamp(Short.MinValue, Short.MaxValue).toShort
        case Some(ByteType)    => clamp(Byte.MinValue, Byte.MaxValue).toByte
        case Some(DateType)    =>
          java.time.LocalDate.ofEpochDay(clamp(java.time.LocalDate.MIN.toEpochDay,
            java.time.LocalDate.MAX.toEpochDay))
        case _ => d
      }
    }
    sources.And(sources.GreaterThanOrEqual(column, typed(lower, isUpper = false)),
      sources.LessThanOrEqual(column, typed(upper, isUpper = true)))
  }
}
