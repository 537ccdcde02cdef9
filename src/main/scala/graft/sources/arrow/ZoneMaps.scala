package graft.sources.arrow

import org.apache.arrow.vector.{BaseIntVector, DateDayVector, DecimalVector, Float4Vector, Float8Vector, TimeStampVector, ValueVector, VarCharVector}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Batch-level zone maps for the Arrow IPC source: per-record-batch
  * min/max of every numeric/temporal column, written into the IPC
  * footer's custom metadata and consulted at PLANNING time to drop
  * record batches no pushed filter can match.
  *
  * This is the storage-engine data-skipping trick (parquet row-group
  * stats, ORC/Delta/Iceberg zone maps) applied to a format that does
  * not carry statistics natively: at 100 TB a scan with a selective
  * range filter on a sort/cluster key reads only the overlapping
  * batches — the footer is read anyway for split planning, so pruning
  * is free. Because the scan already splits at record-batch
  * granularity, a skipped batch is a split that never becomes a task.
  *
  * Pruning is strictly conservative: a batch is dropped only when a
  * pushed filter PROVABLY matches nothing in the batch's [min,max]
  * range. Missing stats (all-null batch, NaN poisoning, untracked
  * column, version mismatch) keep the batch; the pushed filter is
  * still evaluated row-level inside the reader, so skipping is a pure
  * optimization with no correctness surface beyond the stats being
  * true bounds.
  *
  * Encoding (footer key `graft.zonemap`), line-oriented:
  * {{{
  *   v1
  *   colA,colB                 tracked column names
  *   12:99;0.5:2.5             batch 0: per-column "min:max" ("" = none)
  *   100:180;                  batch 1
  * }}}
  * Integral stats print as exact longs, fractional via Double.toString
  * (round-trip exact); names containing a delimiter are not tracked.
  */
object ZoneMaps {
  val MetaKey = "graft.zonemap"

  /** Column kinds the writer tracks. */
  final val KindNone = 0
  final val KindLong = 1 // integral + temporal (micros / days)
  final val KindDouble = 2
  final val KindString = 3 // UTF-8 byte order (Spark's string order)
  // exact decimal strings (toPlainString); SAME-SCALE precision
  // widening re-labels the value, so recorded stats stay valid under
  // widen_column — the property the widens() allowlist relies on
  final val KindDecimal = 4

  def kindOf(dt: DataType): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         TimestampType | TimestampNTZType | DateType => KindLong
    case FloatType | DoubleType => KindDouble
    case org.apache.spark.sql.types.StringType => KindString
    case _: DecimalType => KindDecimal
    case _ => KindNone
  }

  /** String stats longer than this are not recorded (batch stat None):
    * categorical/id columns — the columns string skipping actually
    * serves — are short, and skipping truncation keeps the bounds
    * exact (no successor arithmetic). */
  final val MaxStringStat = 64

  /** Escape a string stat so the line/cell delimiters stay structural:
    * '%' plus the five delimiter bytes become %XX. UTF-8 multibyte
    * sequences contain no ASCII bytes, so byte-level escaping of the
    * ASCII delimiters round-trips any string. */
  def escapeStat(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case c @ (',' | ';' | ':' | '\n' | '\r' | '%') =>
        sb.append(f"%%${c.toInt}%02X"); ()
      case c => sb.append(c); ()
    }
    sb.toString
  }

  def unescapeStat(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        if (s.charAt(i) == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(s.charAt(i)); i += 1 }
      }
      sb.toString
    }

  /** Unsigned byte-wise comparison — Spark's UTF8String order. */
  def byteCmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Compare only `a`'s first `b.length` bytes against `b` (prefix
    * test for StartsWith pruning); 0 when `a` is shorter and a prefix. */
  private def prefixCmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    if (a.length >= b.length) 0 else a.length - b.length
  }

  def trackable(name: String, dt: DataType): Boolean =
    kindOf(dt) != KindNone && name.nonEmpty &&
      !name.exists(",;:\n".contains(_))

  /** One batch's stats for one column, as decimal strings. */
  type Range = Option[(String, String)]

  def encode(cols: Seq[String], batches: Seq[Seq[Range]]): String = {
    val header = s"v1\n${cols.mkString(",")}\n"
    header + batches.map(_.map {
      case Some((mn, mx)) => s"$mn:$mx"
      case None => ""
    }.mkString(";")).mkString("\n")
  }

  /** One batch's stat for a trackable column of type `dt`: min and max
    * of the non-null values among the first `n` rows of its vector.
    * None when every value is null, when a NaN poisons a fractional
    * column (pruning never reasons over a non-total order), or when a
    * string bound is longer than [[MaxStringStat]]. */
  def range(v: ValueVector, dt: DataType, n: Int): Range = kindOf(dt) match {
    case KindLong =>
      val get = longs(v)
      var mn = Long.MaxValue
      var mx = Long.MinValue
      var seen = false
      var i = 0
      while (i < n) {
        if (!v.isNull(i)) {
          val x = get(i)
          if (x < mn) mn = x
          if (x > mx) mx = x
          seen = true
        }
        i += 1
      }
      if (seen) Some((mn.toString, mx.toString)) else None
    case KindDouble =>
      val get: Int => Double = v match {
        case f: Float4Vector => i => f.get(i).toDouble
        case d: Float8Vector => d.get
      }
      var mn = Double.MaxValue
      var mx = -Double.MaxValue
      var seen = false
      var i = 0
      while (i < n) {
        if (!v.isNull(i)) {
          val x = get(i)
          if (java.lang.Double.isNaN(x)) return None
          if (x < mn) mn = x
          if (x > mx) mx = x
          seen = true
        }
        i += 1
      }
      if (seen) Some((mn.toString, mx.toString)) else None
    case KindString =>
      val get = utf8s(v)
      var mn: UTF8String = null
      var mx: UTF8String = null
      var i = 0
      while (i < n) {
        if (!v.isNull(i)) {
          val x = get(i)
          if (mn == null || x.compareTo(mn) < 0) mn = x
          if (mx == null || x.compareTo(mx) > 0) mx = x
        }
        i += 1
      }
      // long extrema are not recorded: skipping stays exact without
      // prefix-truncation successor arithmetic, and the columns string
      // skipping serves (ids, categories) are short
      if (mn == null || mn.numBytes > MaxStringStat ||
          mx.numBytes > MaxStringStat) None
      else Some((escapeStat(mn.toString), escapeStat(mx.toString)))
    case KindDecimal =>
      val d = v.asInstanceOf[DecimalVector]
      var mn: java.math.BigDecimal = null
      var mx: java.math.BigDecimal = null
      var i = 0
      while (i < n) {
        if (!v.isNull(i)) {
          val x = d.getObject(i)
          if (mn == null || x.compareTo(mn) < 0) mn = x
          if (mx == null || x.compareTo(mx) > 0) mx = x
        }
        i += 1
      }
      // toPlainString: no exponent form, so the read side's
      // BigDecimal(stat) comparison is exact at any magnitude
      if (mn == null) None else Some((mn.toPlainString, mx.toPlainString))
    case _ => None
  }

  /** An integral or temporal vector's values as longs — the stat domain
    * of [[KindLong]] (the integer, days for dates, micros for
    * timestamps). Callers test `isNull` before reading a slot. */
  private[arrow] def longs(v: ValueVector): Int => Long = v match {
    case b: BaseIntVector => b.getValueAsLong
    case d: DateDayVector => i => d.get(i).toLong
    case t: TimeStampVector => t.get
  }

  /** A string vector's values as [[UTF8String]]s that point into the
    * vector's data buffer: valid until the vector is reset, so a value
    * kept longer must be cloned. */
  private[arrow] def utf8s(v: ValueVector): Int => UTF8String = {
    val s = v.asInstanceOf[VarCharVector]
    i => UTF8String.fromAddress(null,
      s.getDataBufferAddress + s.getStartOffset(i), s.getValueLength(i))
  }

  final case class ZoneMap(cols: Array[String],
      batches: Array[Array[Range]]) {
    private val idx = cols.zipWithIndex.toMap
    def stat(batch: Int, col: String): Range =
      if (batch >= batches.length) None
      else idx.get(col).flatMap { i =>
        val b = batches(batch)
        if (i < b.length) b(i) else None
      }
  }

  def decode(s: String): Option[ZoneMap] = {
    val lines = s.split("\n", -1)
    if (lines.length < 2 || lines(0) != "v1") None
    else {
      // NO element filtering here: dropping a name would shift every
      // later column onto the wrong stat cell — positions are the
      // contract (trackable() already refuses unencodable names)
      val cols =
        if (lines(1).isEmpty) Array.empty[String]
        else lines(1).split(",", -1)
      val batches = lines.drop(2).map(_.split(";", -1).map { cell =>
        val i = cell.indexOf(':')
        if (i <= 0) None
        else Some((cell.substring(0, i), cell.substring(i + 1))): Range
      })
      Some(ZoneMap(cols, batches))
    }
  }

  /** Can `filter` possibly match a row of batch `batch`? Conservative:
    * unknown filters/columns/literals answer true. The comparisons run
    * in the column's own stat domain — BigDecimal for numeric/temporal,
    * unsigned UTF-8 bytes for strings (Spark's string order). */
  def mayMatch(filter: Filter, schema: StructType, zm: ZoneMap,
      batch: Int): Boolean = filter match {
    case And(l, r) =>
      mayMatch(l, schema, zm, batch) && mayMatch(r, schema, zm, batch)
    case Or(l, r) =>
      mayMatch(l, schema, zm, batch) || mayMatch(r, schema, zm, batch)
    case EqualTo(a, v) => bounds(a, v, schema, zm, batch)
      .forall { case (cMn, cMx) => cMn <= 0 && cMx >= 0 }
    case GreaterThan(a, v) =>
      bounds(a, v, schema, zm, batch).forall(_._2 > 0)
    case GreaterThanOrEqual(a, v) =>
      bounds(a, v, schema, zm, batch).forall(_._2 >= 0)
    case LessThan(a, v) =>
      bounds(a, v, schema, zm, batch).forall(_._1 < 0)
    case LessThanOrEqual(a, v) =>
      bounds(a, v, schema, zm, batch).forall(_._1 <= 0)
    case In(a, vs) =>
      vs.isEmpty || vs.exists(v => bounds(a, v, schema, zm, batch)
        .forall { case (cMn, cMx) => cMn <= 0 && cMx >= 0 })
    // prefix pruning: [mn, mx] can hold a p-prefixed string iff
    // mx >= p (full compare) and mn's first |p| bytes are <= p
    case org.apache.spark.sql.sources.StringStartsWith(a, p)
        if p != null =>
      (zm.stat(batch, a), schema.find(_.name == a).map(_.dataType)) match {
        case (Some((mnE, mxE)),
            Some(org.apache.spark.sql.types.StringType)) =>
          val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mn = unescapeStat(mnE)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val mx = unescapeStat(mxE)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          byteCmp(mx, pb) >= 0 && prefixCmp(mn, pb) <= 0
        case _ => true
      }
    // IsNull/IsNotNull/Not: undecidable from min/max alone
    case _ => true
  }

  /** compare(min, literal) and compare(max, literal) in the column's
    * stat domain; None (→ keep the batch) when not comparable. */
  private def bounds(col: String, v: Any, schema: StructType,
      zm: ZoneMap, batch: Int): Option[(Int, Int)] =
    zm.stat(batch, col).flatMap { case (mn, mx) =>
      schema.find(_.name == col).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.StringType) => v match {
          case s: String =>
            val x = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            Some((
              byteCmp(unescapeStat(mn)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8), x),
              byteCmp(unescapeStat(mx)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8), x)))
          case _ => None
        }
        case dt =>
          literal(dt, v) match {
            case Some(x) =>
              try Some((BigDecimal(mn).compare(x),
                BigDecimal(mx).compare(x)))
              catch { case _: NumberFormatException => None }
            case None => None
          }
      }
    }

  /** Per-batch row/null-count stats (footer key `graft.rowstats`) —
    * the COUNT side of aggregate pushdown, companion to the min/max
    * zone map above. Tracked for EVERY column with an encodable name
    * regardless of type (null counting is type-agnostic), so
    * `count(col)` is answerable wherever `count(*)` is.
    *
    * Encoding, line-oriented like the zone map:
    * {{{
    *   v1
    *   colA,colB            tracked column names
    *   128|0;3              batch 0: rowCount | per-column null counts
    *   97|1;0               batch 1
    * }}}
    */
  object RowStats {
    val MetaKey = "graft.rowstats"

    def trackable(name: String): Boolean =
      name.nonEmpty && !name.exists(",;:|\n".contains(_))

    def encode(cols: Seq[String], batches: Seq[(Long, Seq[Long])]): String = {
      val header = s"v1\n${cols.mkString(",")}\n"
      header + batches.map { case (rows, nulls) =>
        s"$rows|${nulls.mkString(";")}"
      }.mkString("\n")
    }

    final case class Stats(cols: Array[String],
        batches: Array[(Long, Array[Long])]) {
      private val idx = cols.zipWithIndex.toMap
      def rowCount(batch: Int): Long = batches(batch)._1
      def nullCount(batch: Int, col: String): Option[Long] =
        idx.get(col).flatMap { i =>
          val b = batches(batch)._2
          if (i < b.length) Some(b(i)) else None
        }
    }

    def decode(s: String): Option[Stats] = {
      val lines = s.split("\n", -1)
      if (lines.length < 2 || lines(0) != "v1") None
      else try {
        val cols =
          if (lines(1).isEmpty) Array.empty[String]
          else lines(1).split(",", -1)
        val batches = lines.drop(2).map { line =>
          val bar = line.indexOf('|')
          val rows = line.substring(0, bar).toLong
          val rest = line.substring(bar + 1)
          val nulls =
            if (rest.isEmpty) Array.empty[Long]
            else rest.split(";", -1).map(_.toLong)
          (rows, nulls)
        }
        Some(Stats(cols, batches))
      } catch {
        case _: NumberFormatException | _: IndexOutOfBoundsException => None
      }
    }
  }

  /** External filter literal → BigDecimal in the stat domain
    * (micros for timestamps, days for dates). None = not comparable. */
  private def literal(dt: Option[DataType], v: Any): Option[BigDecimal] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    (dt, v) match {
      case (Some(TimestampType), t: java.sql.Timestamp) =>
        Some(BigDecimal(DateTimeUtils.fromJavaTimestamp(t)))
      case (Some(TimestampType), t: java.time.Instant) =>
        Some(BigDecimal(DateTimeUtils.instantToMicros(t)))
      case (Some(TimestampNTZType), t: java.time.LocalDateTime) =>
        Some(BigDecimal(DateTimeUtils.localDateTimeToMicros(t)))
      case (Some(DateType), d: java.sql.Date) =>
        Some(BigDecimal(DateTimeUtils.fromJavaDate(d)))
      case (Some(DateType), d: java.time.LocalDate) =>
        Some(BigDecimal(DateTimeUtils.localDateToDays(d)))
      case (_, n: java.lang.Byte) => Some(BigDecimal(n.longValue))
      case (_, n: java.lang.Short) => Some(BigDecimal(n.longValue))
      case (_, n: java.lang.Integer) => Some(BigDecimal(n.longValue))
      case (_, n: java.lang.Long) => Some(BigDecimal(n.longValue))
      case (_, n: java.lang.Float)
        if !java.lang.Float.isNaN(n) && !java.lang.Float.isInfinite(n) =>
        Some(BigDecimal(n.doubleValue))
      case (_, n: java.lang.Double)
        if !java.lang.Double.isNaN(n) && !java.lang.Double.isInfinite(n) =>
        Some(BigDecimal(n.doubleValue))
      case (_, n: java.math.BigDecimal) => Some(BigDecimal(n))
      case (_, n: scala.math.BigDecimal) => Some(n)
      case _ => None
    }
  }
}
