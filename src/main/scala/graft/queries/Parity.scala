package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sink.{ParquetFiles, ParquetStreamSink}

/** Group A — sink round-trip fidelity (SURVEY §2.3): each query pushes
  * fixture data through [[ParquetStreamSink]] into a scratch location,
  * reads the files back with the ordinary Parquet scan, and returns a
  * DataFrame the driver hash-compares against DuckDB over the
  * ORIGINAL table — write→read must be the identity. This is exactly
  * the reference's correctness notion: every test writes through the
  * library then re-reads with a generic reader
  * (`/root/reference/tests/tests.py:45,69,230,272`).
  */
object Parity {

  /** Scratch root; fixed names + sink overwrite make reruns idempotent. */
  private def scratch(name: String): Path = {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft-parity")
    Files.createDirectories(root)
    root.resolve(name)
  }

  /** Identity: all of `orders` through the sink (single file, one
    * batch), read back (`tests.py:34-47`).
    */
  def roundtripIdentity(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "orders")
    val out = scratch("identity.parquet")
    val sink = new ParquetStreamSink(s, out, src.schema, overwrite = true)
    // writeAll = bounded-memory caller loop (buffer + chunk + one
    // input partition on the driver, regardless of table size)
    try sink.writeAll(src, batchRows = 50000)
    finally sink.close()
    s.read.parquet(out.toString).orderBy("o_orderkey")
  }

  val roundtripIdentitySql: String =
    "SELECT * FROM orders ORDER BY o_orderkey"

  /** Sharded: `documents` in 20 batches with thresholds sized from the
    * data so multiple shards roll over; the shard directory reads back
    * as one dataset (`tests.py:50-70`).
    */
  def roundtripSharded(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "documents")
    val rows = src.orderBy("doc_id").collect().toSeq
    val est = ParquetStreamSink.estimateBytes(rows, src.schema)
    val out = scratch("sharded")
    val sink = new ParquetStreamSink(s, out, src.schema,
      shardSizeBytes = Some(math.max(est / 6, 1L)),
      bufferSizeBytes = math.max(est / 12, 1L),
      filePrefix = Some("docs"), overwrite = true)
    try rows.grouped(math.max(rows.size / 20, 1)).foreach(sink.writeRows)
    finally sink.close()
    s.read.parquet(out.toString).orderBy("doc_id")
  }

  val roundtripShardedSql: String =
    "SELECT * FROM documents ORDER BY doc_id"

  /** Cast: int32/float32-typed source widened by the sink's declared
    * schema to int64/float64, read back widened
    * (`tests.py:89-101`, `writer.py:216`).
    */
  def roundtripCast(s: SparkSession, dir: String): DataFrame = {
    val narrow = Tables(s, dir, "lineitem").select(
      col("l_orderkey").cast(IntegerType).as("l_orderkey"),
      col("l_linenumber"),
      col("l_extendedprice").cast(FloatType).as("l_extendedprice"))
    val wide = StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_linenumber", LongType),
      StructField("l_extendedprice", DoubleType)))
    val out = scratch("cast.parquet")
    val sink = new ParquetStreamSink(s, out, wide, overwrite = true)
    try sink.writeAll(narrow, batchRows = 100000)
    finally sink.close()
    s.read.parquet(out.toString).orderBy("l_orderkey", "l_linenumber")
  }

  val roundtripCastSql: String =
    """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
      |  CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |  CAST(CAST(l_extendedprice AS REAL) AS DOUBLE) AS l_extendedprice
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Row groups: `documents` written with a 100-row row-group cap in
    * many tiny batches; the footer must show consolidation into
    * ceil(n/100) groups of ≤ 100 rows (`tests.py:234-249`,
    * `writer.py:289`).
    */
  def roundtripRowgroups(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "documents")
    val rows = src.orderBy("doc_id").collect().toSeq
    val out = scratch("rowgroups.parquet")
    val sink = new ParquetStreamSink(s, out, src.schema,
      rowGroupSize = Some(100), overwrite = true)
    try rows.grouped(37).foreach(sink.writeRows) // tiny uneven batches
    finally sink.close()
    val (groups, nRows, maxRows) = ParquetFiles.rowGroupStats(out)
    s.createDataFrame(
      List(Row(nRows, groups.toLong, maxRows)).asJava,
      StructType(Seq(
        StructField("n_rows", LongType),
        StructField("n_row_groups", LongType),
        StructField("max_group_rows", LongType))))
  }

  val roundtripRowgroupsSql: String =
    """SELECT COUNT(*) AS n_rows,
      |  CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS n_row_groups,
      |  CAST(LEAST(COUNT(*), 100) AS BIGINT) AS max_group_rows
      |FROM documents""".stripMargin

  /** Order: rows written in a known non-trivial order (doc_id
    * descending, several buffer flushes) come back in exactly that
    * order (`tests.py:272-275` asserts per-file insertion order).
    */
  def roundtripOrder(s: SparkSession, dir: String): DataFrame = {
    val src = Tables(s, dir, "documents").select("doc_id", "n_chars")
    val rows = src.orderBy(col("doc_id").desc).collect().toSeq
    val est = ParquetStreamSink.estimateBytes(rows, src.schema)
    val out = scratch("order.parquet")
    val sink = new ParquetStreamSink(s, out, src.schema,
      bufferSizeBytes = math.max(est / 5, 1L), overwrite = true)
    try rows.grouped(math.max(rows.size / 10, 1)).foreach(sink.writeRows)
    finally sink.close()
    // single small file → one ordered partition; coalesce defends the
    // >128 MiB multi-split case, monotonically_increasing_id is then
    // sequential file order
    s.read.parquet(out.toString).coalesce(1)
      .withColumn("pos", monotonically_increasing_id())
      .select("pos", "doc_id", "n_chars")
  }

  val roundtripOrderSql: String =
    """SELECT ROW_NUMBER() OVER (ORDER BY doc_id DESC) - 1 AS pos, doc_id, n_chars
      |FROM documents ORDER BY pos""".stripMargin

  /** The same write→read identity through the DISTRIBUTED sink
    * ([[graft.streaming.StreamingShardSink]]): two micro-batches of
    * `documents` become sized shards, read back as one dataset. Puts
    * the scale-path sink under the same oracle gate as the parity
    * sink.
    */
  def roundtripDistributed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val src = Tables(s, dir, "documents")
    val out = scratch("distributed")
    val sink = new graft.streaming.StreamingShardSink(
      out, src.schema, shardSizeBytes = 256L * 1024, overwrite = true)
    sink.addBatch(src.filter(col("doc_id") % 2 === 0), 0L)
    sink.addBatch(src.filter(col("doc_id") % 2 === 1), 1L)
    s.read.schema(src.schema).parquet(out.toString).orderBy("doc_id")
  }

  val roundtripDistributedSql: String =
    "SELECT * FROM documents ORDER BY doc_id"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "roundtrip_distributed" -> roundtripDistributed _,
    "roundtrip_identity"  -> roundtripIdentity _,
    "roundtrip_sharded"   -> roundtripSharded _,
    "roundtrip_cast"      -> roundtripCast _,
    "roundtrip_rowgroups" -> roundtripRowgroups _,
    "roundtrip_order"     -> roundtripOrder _)

  val oracle: Map[String, String] = Map(
    "roundtrip_distributed" -> roundtripDistributedSql,
    "roundtrip_identity"  -> roundtripIdentitySql,
    "roundtrip_sharded"   -> roundtripShardedSql,
    "roundtrip_cast"      -> roundtripCastSql,
    "roundtrip_rowgroups" -> roundtripRowgroupsSql,
    "roundtrip_order"     -> roundtripOrderSql)
}
