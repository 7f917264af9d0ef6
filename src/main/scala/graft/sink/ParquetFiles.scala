package graft.sink

import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{InputFile, LocalOutputFile, OutputFile}

/** Row-group-level Parquet file surgery: whole files appended to one
  * output **at the binary row-group level** (`ParquetFileReader.appendTo`
  * — no decode, no re-encode, no decompress), and the footer facts the
  * tests read.
  *
  * The parity sink appends each flush, encoded in memory by
  * [[DriverParquet.Encoder]], to its open shard through an [[Appender]],
  * so a shard close only writes the footer. [[concat]] — staged files
  * concatenated into one — is no longer on the sink path; it remains as
  * the composition the sink's bytes are checked against (per-chunk
  * [[DriverParquet.write]] + `concat`), with the same [[Appender]].
  * Either way the result keeps the observable semantics of the
  * reference's single `pq.ParquetWriter` per shard (`writer.py:177-199`):
  * one file per shard, row groups in flush order, each flush = the row
  * groups `write_table` would have produced.
  *
  * Reader settings are resolved once, here. parquet-mr's one-argument
  * `ParquetFileReader.open(InputFile)`, and `ParquetFileWriter.appendFile`
  * which calls it, build their read options over a new Hadoop
  * `Configuration` on every call, and a new `Configuration` looks up and
  * parses `core-default.xml` and `core-site.xml` on the classpath: on
  * the parity sink's path, one parse per appended flush, on the
  * caller's thread. So every reader in this object opens with the one
  * [[readOptions]], which holds the same defaults, and the footer
  * readers share one [[conf]], loaded on first use.
  */
object ParquetFiles {

  private val conf = new Configuration()
  private val readOptions = ParquetReadOptions.builder().build()

  private def open(file: InputFile): ParquetFileReader = ParquetFileReader.open(file, readOptions)
  private def open(file: Path): ParquetFileReader = open(HadoopInputFile.fromPath(hPath(file), conf))

  /** Appends whole Parquet files to `out`, row groups copied verbatim,
    * under the schema and key-value footer metadata (e.g. Spark's row
    * schema) of `template` — the first file to be appended. `close`
    * writes the footer. Appended row groups carry no page indexes
    * (parquet-mr drops them on append). Each part is opened with the
    * shared [[readOptions]]: `reader.appendTo(writer)` is the body of
    * parquet-mr's `appendFile` without its per-call configuration load.
    */
  final class Appender(out: OutputFile, template: InputFile) {
    private val (schema, keyValueMeta) = {
      val r = open(template)
      try {
        val md = r.getFooter.getFileMetaData
        (md.getSchema, md.getKeyValueMetaData)
      } finally r.close()
    }
    // 128 MiB target block size / 8 MiB max padding — parquet-mr's own
    // defaults (ParquetWriter.DEFAULT_BLOCK_SIZE / MAX_PADDING_SIZE_DEFAULT);
    // irrelevant to appendTo, which copies source row groups verbatim.
    private val writer = new ParquetFileWriter(out, schema,
      ParquetFileWriter.Mode.OVERWRITE, 128L * 1024 * 1024, 8 * 1024 * 1024,
      null, org.apache.parquet.column.ParquetProperties.builder().build())
    writer.start()

    def append(part: InputFile): Unit = {
      val r = open(part)
      try r.appendTo(writer) finally r.close()
    }
    def close(): Unit = writer.end(keyValueMeta)
  }

  /** Concatenate `parts` (in order) into `dest`, replacing it.
    * Single part degenerates to a rename. Preserves key-value footer
    * metadata (e.g. Spark's row schema) from the first part.
    */
  def concat(parts: Seq[Path], dest: Path): Unit = {
    require(parts.nonEmpty, "concat needs at least one part")
    if (parts.sizeIs == 1) {
      Files.move(parts.head, dest, StandardCopyOption.REPLACE_EXISTING)
      return
    }
    val inputs = parts.map(p => HadoopInputFile.fromPath(hPath(p), conf))
    val tmp = dest.resolveSibling("." + dest.getFileName.toString + ".concat.tmp")
    val out = new Appender(new LocalOutputFile(tmp), inputs.head)
    inputs.foreach(out.append)
    out.close()
    Files.move(tmp, dest, StandardCopyOption.REPLACE_EXISTING)
    parts.foreach(Files.deleteIfExists(_))
  }

  /** Deletes `p` and everything under it; a missing `p` is a no-op.
    * The one recursive delete in the codebase: the sinks' overwrite and
    * staging cleanup, and the query layer's artifact directories.
    */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    // materialize then close: Files.walk holds a directory fd open
    val s = Files.walk(p)
    val paths = try s.sorted(Comparator.reverseOrder[Path]())
      .iterator.asScala.toSeq finally s.close()
    paths.foreach(Files.deleteIfExists(_))
  }

  /** Clear `path` for a new sink output (`writer.py:151-165`): an
    * existing file or tree is deleted, and logged, when `overwrite` is
    * set, and is an error otherwise; a missing parent directory is an
    * error and is never created.
    */
  def claimOutput(path: Path, overwrite: Boolean, log: org.slf4j.Logger): Unit = {
    if (Files.exists(path)) {
      if (!overwrite) throw new FileAlreadyExistsException(s"'$path' already exists.")
      // writer.py:156,159 — the reference logs which kind of path it
      // is about to remove before removing it
      if (Files.isDirectory(path)) log.info(s"Deleting existing directory: $path")
      else log.info(s"Deleting existing file: $path")
      deleteTree(path)
    }
    if (path.getParent == null || !Files.exists(path.getParent))
      throw new NoSuchFileException(s"'${path.getParent}' does not exist.")
  }

  /** (rowGroupCount, totalRows, maxRowsInAnyGroup) from a file footer —
    * the metadata oracle the reference tests read with
    * `pq.read_metadata` (`tests/tests.py:244-248`).
    */
  def rowGroupStats(file: Path): (Int, Long, Long) = {
    val r = open(file)
    try {
      val blocks = r.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount)
      (blocks.size, rows.sum, if (rows.isEmpty) 0L else rows.max)
    } finally r.close()
  }

  /** Whether column-chunk statistics are present for the first column
    * of the first row group (`tests/tests.py:161-169` analog).
    */
  def firstColumnHasStatistics(file: Path): Boolean = {
    val r = open(file)
    try {
      val col = r.getFooter.getBlocks.get(0).getColumns.get(0)
      val st: org.apache.parquet.column.statistics.Statistics[_] = col.getStatistics
      st != null && !st.isEmpty
    } finally r.close()
  }

  /** Compression codec of the first column chunk of the first row
    * group — the footer fact the codec-option tests pin.
    */
  def firstColumnCodec(file: Path): String = {
    val r = open(file)
    try r.getFooter.getBlocks.get(0).getColumns.get(0).getCodec.name()
    finally r.close()
  }

  private def hPath(p: Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(p.toUri)
}
