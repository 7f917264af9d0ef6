package graft.sink

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Runtime type-conformance check: does this external `Row` already
  * hold exactly the JVM representations the schema's encoder expects?
  * Used by [[ParquetStreamSink.writeRows]] to skip the Catalyst cast
  * for already-typed rows (the cast would be the identity). The check
  * is CONSERVATIVE: any type it doesn't recognize returns false and
  * the caller routes through the full cast/validation path, so a
  * wrong answer can only cost speed, never correctness.
  */
object RowConformance {

  def conforms(r: Row, schema: StructType): Boolean =
    r.length == schema.length && {
      var i = 0
      var ok = true
      while (ok && i < schema.length) {
        if (!r.isNullAt(i)) ok = valueConforms(r.get(i), schema(i).dataType)
        i += 1
      }
      ok
    }

  private def valueConforms(v: Any, dt: DataType): Boolean = dt match {
    case LongType      => v.isInstanceOf[java.lang.Long]
    case IntegerType   => v.isInstanceOf[java.lang.Integer]
    case DoubleType    => v.isInstanceOf[java.lang.Double]
    case FloatType     => v.isInstanceOf[java.lang.Float]
    case ShortType     => v.isInstanceOf[java.lang.Short]
    case ByteType      => v.isInstanceOf[java.lang.Byte]
    case BooleanType   => v.isInstanceOf[java.lang.Boolean]
    case StringType    => v.isInstanceOf[String]
    case BinaryType    => v.isInstanceOf[Array[Byte]]
    case TimestampType =>
      v.isInstanceOf[java.sql.Timestamp] || v.isInstanceOf[java.time.Instant]
    case TimestampNTZType => v.isInstanceOf[java.time.LocalDateTime]
    case DateType =>
      v.isInstanceOf[java.sql.Date] || v.isInstanceOf[java.time.LocalDate]
    case _: DecimalType => v.isInstanceOf[java.math.BigDecimal]
    case ArrayType(et, _) => v match {
      case s: scala.collection.Seq[_] => s.forall(e => e == null || valueConforms(e, et))
      case _                          => false
    }
    // a null key is invalid in a Spark map: leave it to the cast path's error
    case MapType(kt, vt, _) => v match {
      case m: scala.collection.Map[_, _] => m.forall { case (k, mv) =>
        k != null && valueConforms(k, kt) && (mv == null || valueConforms(mv, vt))
      }
      case _ => false
    }
    case st: StructType => v match {
      case r: Row => conforms(r, st)
      case _      => false
    }
    case _ => false // unknown type: let the cast path decide
  }

  /** Best-effort SOURCE schema for rows that failed conformance.
    * `createDataFrame(rows, targetSchema)` cannot widen — the row
    * encoder takes the declared type at face value and a narrower JVM
    * value (an Integer in a LongType column) dies with a
    * ClassCastException at materialization, never reaching the cast.
    * So the slow path builds the frame under the types the values
    * actually HAVE — per column: the target type when every value
    * already conforms, else a type inferred from the runtime classes
    * (widest numeric across rows; any fractional presence promotes to
    * double, the same loss profile as Spark's own numeric widening) —
    * and lets the subsequent ANSI cast to the target schema own
    * widening and validation. A column whose values defy inference
    * keeps the target type: that path fails exactly as it always did,
    * with the conversion error naming the offending type.
    */
  private[sink] def runtimeSchema(rows: Seq[Row], target: StructType): StructType =
    StructType(target.fields.zipWithIndex.map { case (f, i) =>
      val values = rows.iterator
        .filter(r => r.length > i && !r.isNullAt(i)).map(_.get(i)).toSeq
      val dt =
        if (values.forall(valueConforms(_, f.dataType))) f.dataType
        else inferredType(values).getOrElse(f.dataType)
      StructField(f.name, dt, nullable = true)
    })

  private def inferredType(values: Seq[Any]): Option[DataType] = {
    def rank(v: Any): Option[Int] = v match {
      case _: java.lang.Byte    => Some(1)
      case _: java.lang.Short   => Some(2)
      case _: java.lang.Integer => Some(3)
      case _: java.lang.Long    => Some(4)
      case _: java.lang.Float   => Some(5)
      case _: java.lang.Double  => Some(6)
      case _                    => None
    }
    val ranks = values.map(rank)
    if (values.nonEmpty && ranks.forall(_.isDefined)) {
      Some(ranks.flatten.max match {
        case 1 => ByteType
        case 2 => ShortType
        case 3 => IntegerType
        case 4 => LongType
        case _ => DoubleType // any fractional: promote the column
      })
    } else if (values.nonEmpty && values.forall(_.isInstanceOf[String]))
      Some(StringType)
    else if (values.nonEmpty && values.forall(_.isInstanceOf[java.lang.Boolean]))
      Some(BooleanType)
    else if (values.nonEmpty && values.forall(_.isInstanceOf[java.math.BigDecimal]))
      Some(DecimalType.SYSTEM_DEFAULT)
    else None
  }

  /** Convert a row's numeric values to the exact JVM classes
    * `runtimeSchema`'s inferred types expect (an Int column promoted
    * to LongType needs java.lang.Long values — the encoder does not
    * unbox across widths).
    */
  private[sink] def alignTo(r: Row, schema: StructType): Row =
    Row.fromSeq(schema.fields.zipWithIndex.map { case (f, i) =>
      val v = if (r.length > i) r.get(i) else null
      (v, f.dataType) match {
        case (null, _) => null
        case (n: java.lang.Number, LongType)    => java.lang.Long.valueOf(n.longValue)
        case (n: java.lang.Number, IntegerType) => java.lang.Integer.valueOf(n.intValue)
        case (n: java.lang.Number, ShortType)   => java.lang.Short.valueOf(n.shortValue)
        case (n: java.lang.Number, ByteType)    => java.lang.Byte.valueOf(n.byteValue)
        case (n: java.lang.Number, DoubleType)  => java.lang.Double.valueOf(n.doubleValue)
        case (n: java.lang.Number, FloatType)   => java.lang.Float.valueOf(n.floatValue)
        case _ => v
      }
    }.toSeq)
}
