package graft.sink

import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The reference imposes no type whitelist — whatever the Parquet
  * writer supports flows through untouched (SURVEY §1.3: no
  * type-specific branch anywhere in writer.py). Prove the same for
  * our sink across the full practical type surface, including nulls
  * in every column.
  */
class TypePassthroughSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("all practical types round-trip the sink unchanged") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("i32", IntegerType),
      StructField("f64", DoubleType),
      StructField("f32", FloatType),
      StructField("b", BooleanType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("dec", DecimalType(18, 4)),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("d", DateType),
      StructField("arr", ArrayType(FloatType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(
        StructField("x", LongType), StructField("y", StringType))))))

    val rows = Seq(
      Row(1L, 42, 3.5, 2.25f, true, "hello", Array[Byte](1, 2, 3),
        new java.math.BigDecimal("12345.6789"),
        Timestamp.valueOf("2024-06-01 12:34:56.789"),
        LocalDateTime.of(2024, 6, 1, 12, 34, 56, 789000000), Date.valueOf("2024-06-01"),
        Seq(1.0f, -2.5f), Map("a" -> 1L, "b" -> 2L), Row(7L, "inner")),
      Row(2L, null, null, null, null, null, null, null, null, null, null, null, null, null))
    // every value already has its encoder's JVM type: no cast job runs
    assert(rows.forall(RowConformance.conforms(_, schema)))

    val tmp = Files.createTempDirectory("graft-types")
    try {
      val out = tmp.resolve("types.parquet")
      val sink = new ParquetStreamSink(spark, out, schema)
      sink.writeRows(rows)
      sink.close()

      val back = spark.read.parquet(out.toString).orderBy("id").collect()
      assert(back.length == 2)
      val r = back(0)
      assert(r.getLong(0) == 1L)
      assert(r.getInt(1) == 42)
      assert(r.getDouble(2) == 3.5)
      assert(r.getFloat(3) == 2.25f)
      assert(r.getBoolean(4))
      assert(r.getString(5) == "hello")
      assert(r.getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2, 3))
      assert(r.getDecimal(7) == new java.math.BigDecimal("12345.6789"))
      assert(r.getTimestamp(8) == Timestamp.valueOf("2024-06-01 12:34:56.789"))
      assert(r.getAs[LocalDateTime](9) == LocalDateTime.of(2024, 6, 1, 12, 34, 56, 789000000))
      assert(r.getDate(10) == Date.valueOf("2024-06-01"))
      assert(r.getSeq[Float](11) == Seq(1.0f, -2.5f))
      assert(r.getMap[String, Long](12) == Map("a" -> 1L, "b" -> 2L))
      assert(r.getStruct(13) == Row(7L, "inner"))
      // null row: every non-key column null
      val n = back(1)
      (1 until schema.length).foreach(i => assert(n.isNullAt(i), s"col $i not null"))
      // schema identical after round-trip
      val readSchema = spark.read.parquet(out.toString).schema
      assert(readSchema.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq)
    } finally {
      import java.util.Comparator
      Files.walk(tmp).sorted(Comparator.reverseOrder[Path]())
        .iterator.asScala.foreach(Files.deleteIfExists(_))
    }
  }
}
