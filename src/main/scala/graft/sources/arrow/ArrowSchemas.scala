package graft.sources.arrow

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.types.{FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.types._

/** Spark `StructType` ↔ Arrow `Schema` conversion for the graft Arrow
  * IPC source — the type surface the reference's storage engine intends
  * to hold (Arrow columnar tables, `/root/reference/CMakeLists.txt:103`)
  * plus what the fixtures need (`timestamp`, `list<float>`).
  *
  * Schema conversion stays here: graft's field names (`element`, the
  * map's entry names), the lossless widenings it serves, and the
  * defaults a reader can fill. Value writing is Spark's `ArrowWriter`
  * over the root this schema builds ([[ArrowDataWriter]]).
  */
object ArrowSchemas {

  /** Lossless primitive widenings the engine serves metadata-only
    * (Delta's type widening): a file written at `from` reads exactly
    * under a declaration at `to` — every `from` value maps to the
    * same numeric value in `to` with no rounding or truncation, so
    * zone-map stats (recorded as exact longs / doubles), bloom
    * filters (integrals hash via `longValue()`, width-agnostic) and
    * sort stamps all stay valid. Decimal PRECISION growth at the SAME
    * scale — decimal(p,s) → decimal(p+k,s), Delta's money-column case
    * — is lossless too: the digits are unchanged, only the headroom
    * grows, so the narrow file's values read identically under the
    * wider declaration. Deliberately NOT included: int → float/double
    * (loses exactness past 2^24/2^53), long → double, decimal
    * RE-SCALING (a scale change moves digits — a rewrite, not a
    * relabeling), date → timestamp (changes the value's meaning, not
    * just its width). */
  def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision > f.precision
    case _ => false
  }

  /** The types an INITIAL DEFAULT can declare and the reader can serve
    * as a constant vector — ONE list, shared by add_column's
    * declaration-time check and the reader's fill dispatch
    * (ArrowScan.fillConstant), so the two can never drift: a type
    * admitted here has a fill arm, and a fill arm exists only for
    * types admitted here. */
  def defaultServable(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType | IntegerType |
         DateType | ShortType | ByteType | BooleanType |
         DoubleType | FloatType | StringType => true
    case _ => false
  }

  def toArrowType(dt: DataType): ArrowType = dt match {
    case BooleanType => ArrowType.Bool.INSTANCE
    case ByteType => new ArrowType.Int(8, true)
    case ShortType => new ArrowType.Int(16, true)
    case IntegerType => new ArrowType.Int(32, true)
    case LongType => new ArrowType.Int(64, true)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case StringType => ArrowType.Utf8.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case DateType => new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY)
    case TimestampType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC")
    case TimestampNTZType => new ArrowType.Timestamp(TimeUnit.MICROSECOND, null)
    case d: DecimalType => new ArrowType.Decimal(d.precision, d.scale, 128)
    case other => throw new UnsupportedOperationException(
      s"graft arrow source: unsupported Spark type $other")
  }

  def toArrowField(name: String, dt: DataType, nullable: Boolean): Field =
    dt match {
      case ArrayType(elem, containsNull) =>
        new Field(name, new FieldType(nullable, ArrowType.List.INSTANCE, null),
          List(toArrowField("element", elem, containsNull)).asJava)
      case StructType(fields) =>
        new Field(name, new FieldType(nullable, ArrowType.Struct.INSTANCE, null),
          fields.map(f => toArrowField(f.name, f.dataType, f.nullable)).toList.asJava)
      case MapType(kt, vt, valueContainsNull) =>
        // Arrow's canonical map layout: map<entries: struct<key, value>>
        // with the child names MapVector expects and a NON-nullable key
        // (the spec forbids null keys; Spark agrees)
        val entries = new Field(
          org.apache.arrow.vector.complex.MapVector.DATA_VECTOR_NAME,
          new FieldType(false, ArrowType.Struct.INSTANCE, null),
          List(
            toArrowField(org.apache.arrow.vector.complex.MapVector.KEY_NAME,
              kt, nullable = false),
            toArrowField(org.apache.arrow.vector.complex.MapVector.VALUE_NAME,
              vt, valueContainsNull)).asJava)
        new Field(name, new FieldType(nullable, new ArrowType.Map(false), null),
          List(entries).asJava)
      case simple =>
        new Field(name, new FieldType(nullable, toArrowType(simple), null),
          List.empty[Field].asJava)
    }

  def toArrowSchema(schema: StructType): ArrowSchema =
    new ArrowSchema(
      schema.fields.map(f => toArrowField(f.name, f.dataType, f.nullable))
        .toList.asJava)

  def fromArrowType(t: ArrowType): DataType = t match {
    case _: ArrowType.Bool => BooleanType
    case i: ArrowType.Int if i.getIsSigned => i.getBitWidth match {
      case 8 => ByteType
      case 16 => ShortType
      case 32 => IntegerType
      case 64 => LongType
      case w => throw new UnsupportedOperationException(s"int width $w")
    }
    case f: ArrowType.FloatingPoint => f.getPrecision match {
      case FloatingPointPrecision.SINGLE => FloatType
      case FloatingPointPrecision.DOUBLE => DoubleType
      case p => throw new UnsupportedOperationException(s"fp precision $p")
    }
    case _: ArrowType.Utf8 => StringType
    case _: ArrowType.Binary => BinaryType
    case _: ArrowType.Date => DateType
    case ts: ArrowType.Timestamp =>
      if (ts.getTimezone == null) TimestampNTZType else TimestampType
    case d: ArrowType.Decimal => DecimalType(d.getPrecision, d.getScale)
    case other => throw new UnsupportedOperationException(
      s"graft arrow source: unsupported Arrow type $other")
  }

  def fromArrowField(f: Field): StructField = f.getType match {
    case _: ArrowType.Map =>
      val entries = f.getChildren.get(0)
      val key = fromArrowField(entries.getChildren.get(0))
      val value = fromArrowField(entries.getChildren.get(1))
      StructField(f.getName,
        MapType(key.dataType, value.dataType, value.nullable), f.isNullable)
    case _: ArrowType.List =>
      val elem = fromArrowField(f.getChildren.get(0))
      StructField(f.getName, ArrayType(elem.dataType, elem.nullable),
        f.isNullable)
    case _: ArrowType.Struct =>
      StructField(f.getName,
        StructType(f.getChildren.asScala.map(fromArrowField).toArray),
        f.isNullable)
    case t => StructField(f.getName, fromArrowType(t), f.isNullable)
  }

  def fromArrowSchema(schema: ArrowSchema): StructType =
    StructType(schema.getFields.asScala.map(fromArrowField).toArray)
}
