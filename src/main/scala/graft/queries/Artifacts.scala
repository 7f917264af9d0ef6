package graft.queries

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import graft.sink.{DriverParquet, ParquetFiles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The artifact store: the stamped, staged, atomically renamed
  * one-time builds every `ensure*` artifact in [[Pipeline]] and
  * [[graft.multimodal.Multimodal]] is cached in, and the bucketed
  * layouts among them ([[Bucketed]]). A reader only ever sees a
  * complete artifact directory, the rule both sinks follow for their
  * shards. Its monitor is the one lock of the store: a build and a
  * catalog registration each run under it.
  */
object Artifacts {

  /** Size-mtime stamp of `dir`'s `table`.parquet, or `None` when it
    * does not exist — the cache-key ingredient that makes a
    * regenerated table at the same path invalidate every artifact
    * built from it. An artifact whose content depends on whether a
    * table exists (the semantic edges on `embeddings`) takes this ONCE
    * per ensure call and reuses it inside the build closure:
    * re-checking existence at build time could disagree with the
    * stamp (a table appearing between the two) and cache content
    * under a key that promises the opposite.
    */
  private[graft] def stamp(dir: String, table: String): Option[String] = {
    val f = Paths.get(dir, s"$table.parquet")
    if (Files.exists(f)) Some(s"${Files.size(f)}-${Files.getLastModifiedTime(f).toMillis}")
    else None
  }

  /** Stamped one-time-build cache shared by [[Pipeline.ensureIvfLayout]],
    * [[Pipeline.ensureEdgeGraph]] and the other `ensure*` artifacts (the
    * multimodal planted corpus included): the cache key includes the
    * source fixture's size+mtime (a regenerated fixture at the same
    * path must invalidate the artifact, or a stale copy would
    * silently diverge from the oracle), and the build lands in a
    * staging dir that is atomically renamed into place — two
    * processes racing the build (a `graft.Verify` run alongside a Bench run)
    * each produce a complete artifact and the loser discards its copy,
    * instead of interleaving writes into one directory.
    */
  private[graft] def ensureArtifact(kind: String, dir: String, srcTable: String,
      extraKey: String)(build: Path => Unit): Path =
    Artifacts.synchronized {
      val p = Paths.get(sys.props("java.io.tmpdir"), kind, java.lang.Integer.toHexString(
        (dir + "|" + stamp(dir, srcTable).getOrElse("dir") + extraKey).hashCode))
      if (!Files.exists(p.resolve("_SUCCESS"))) {
        // a dir without _SUCCESS is a partial artifact from a killed
        // run — it would make the rename below fail forever; clear it
        ParquetFiles.deleteTree(p)
        val staging = p.resolveSibling(
          p.getFileName.toString + ".tmp-" + ProcessHandle.current.pid)
        try {
          build(staging)
          // the completeness marker this method checks above must
          // exist at the artifact ROOT: builds that write parquet
          // SUBDIRECTORIES (planted corpus, base corpus) get Spark's
          // _SUCCESS inside each table dir but not at the root — and
          // without a root marker every later call saw "partial
          // artifact", deleted it, and silently rebuilt (plus, the
          // refreshed inner mtimes re-keyed every downstream artifact
          // stamped off them — a full rebuild cascade per call)
          val marker = staging.resolve("_SUCCESS")
          if (!Files.exists(marker)) Files.createFile(marker)
          try Files.move(staging, p, StandardCopyOption.ATOMIC_MOVE)
          catch {
            case e: FileSystemException =>
              // rename onto an existing dir fails (EEXIST/ENOTEMPTY):
              // if the winner's artifact is complete the race is benign
              // — same stamp ⇒ same input ⇒ identical content; drop
              // ours (the finally below). Anything else is a real
              // failure.
              if (!Files.exists(p.resolve("_SUCCESS"))) throw e
          }
        // covers the race-loser copy AND a build that threw mid-write —
        // a no-op when the rename moved staging into place
        } finally ParquetFiles.deleteTree(staging)
      }
      p
    }

  /** A bucketed artifact, declared once: its `kind`, the `key` column
    * it is bucketed and sorted by, and its bucket count. It is stamped
    * off the corpus's `documents` table, its cache key ends in
    * `|b<buckets>`, and its catalog table is the kind with `-` as `_`,
    * suffixed by the artifact's hash.
    *
    * Spark writes bucket metadata only through `saveAsTable`, so
    * [[ensure]] stages the rows through a pid-suffixed temp table and
    * then drops the catalog entry: the artifact dir is the contract.
    * [[read]] registers that dir as an external bucketed table whose
    * columns are read from the artifact's own files, so any later
    * session gets a scan that keeps the bucket partitioning a bare
    * `read.parquet` would discard, and a join on `key` against another
    * layout of the same bucket count ships no exchange.
    */
  private[graft] final case class Bucketed(kind: String, key: String, buckets: Int) {
    private val table = kind.replace('-', '_')

    /** The artifact for `dir`, built from `rows` on a cache miss, one
      * file per bucket through an aligned repartition.
      */
    def ensure(s: SparkSession, dir: String, extraKey: String)(rows: => DataFrame): Path =
      ensureArtifact(kind, dir, "documents", s"$extraKey|b$buckets") { staging =>
        val tmp = s"${table}_build_${ProcessHandle.current.pid}"
        s.sql(s"DROP TABLE IF EXISTS $tmp")
        rows.repartition(buckets, col(key))
          .write.bucketBy(buckets, key).sortBy(key)
          .option("path", staging.toString)
          .saveAsTable(tmp)
        // no rows write no bucket file, and a dir of no file has no
        // columns for [[read]] to find: give it an empty bucket-0 file
        if (s.table(tmp).inputFiles.isEmpty)
          DriverParquet.write(s, staging.resolve("part-00000-empty_00000.c000.parquet"),
            s.table(tmp).schema, Nil, Map.empty)
        // external table (explicit path): DROP removes only the catalog
        // entry, the bucketed files stay for the atomic move
        s.sql(s"DROP TABLE $tmp")
      }

    /** The built artifact `p` as a bucket-aware DataFrame, registered
      * once per artifact (a rebuilt artifact gets a fresh table).
      */
    def read(s: SparkSession, p: Path): DataFrame = Artifacts.synchronized {
      val tbl = s"${table}_${p.getFileName}"
      if (!s.catalog.tableExists(tbl))
        s.sql(
          s"""CREATE TABLE $tbl (${s.read.parquet(p.toString).schema.toDDL})
             |USING parquet
             |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
             |LOCATION '$p'""".stripMargin)
      s.table(tbl)
    }
  }
}
