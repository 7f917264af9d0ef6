package graft.sink

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{struct, udf}
import org.apache.spark.sql.types.StructType

/** [[ColumnarSize.ofRow]] as a column: a UDF over each row, evaluated
  * where the data lives, one `sum` away from a DataFrame's size with no
  * driver collect. Neither sink uses it (both call [[ColumnarSize.ofRow]]
  * per row); perfbench's expected sizes and the sink tests do.
  */
object ColumnarSizeExpr {

  /** Estimated bytes of one row of `schema`. */
  def rowBytes(schema: StructType): Column =
    udf((r: Row) => ColumnarSize.ofRow(r, schema)).apply(
      struct(schema.fieldNames.toIndexedSeq.map(RowConformance.column): _*))
}
