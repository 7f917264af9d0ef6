package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import org.scalatest.funsuite.AnyFunSuite

import graft.sink.ParquetFiles

/** The artifact store's cache contract, with no Spark job: each build
  * is a closure that writes plain files into its staging dir.
  */
class ArtifactsSpec extends AnyFunSuite {

  /** A fresh artifact kind and a source dir holding `documents.parquet`,
    * both removed afterwards.
    */
  private def withStore(f: (String, Path) => Unit): Unit = {
    val kind = s"graft-artifacts-spec-${System.nanoTime}"
    val src = Files.createTempDirectory("graft-artifacts-src-")
    Files.writeString(src.resolve("documents.parquet"), "v1")
    try f(kind, src)
    finally {
      ParquetFiles.deleteTree(Paths.get(sys.props("java.io.tmpdir"), kind))
      ParquetFiles.deleteTree(src)
    }
  }

  private def entries(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.toArray.map(_.asInstanceOf[Path].getFileName.toString).toSet
      finally s.close()
    }

  test("a dir without _SUCCESS is a partial artifact: deleted and rebuilt") {
    withStore { (kind, src) =>
      var runs = 0
      def ensure() = Artifacts.ensureArtifact(kind, src.toString, "documents", "|k") { st =>
        runs += 1
        Files.createDirectories(st)
        Files.writeString(st.resolve("part-0"), s"run $runs")
      }
      val p = ensure()
      Files.delete(p.resolve("_SUCCESS"))
      Files.writeString(p.resolve("stray"), "left by a killed run")
      assert(ensure() == p)
      assert(runs == 2)
      assert(entries(p) == Set("part-0", "_SUCCESS"))
      assert(Files.readString(p.resolve("part-0")) == "run 2")
    }
  }

  test("a build that throws leaves neither the artifact nor its staging dir") {
    withStore { (kind, src) =>
      var staged: Path = null
      val e = intercept[IllegalStateException] {
        Artifacts.ensureArtifact(kind, src.toString, "documents", "|k") { st =>
          staged = st
          Files.createDirectories(st)
          Files.writeString(st.resolve("part-0"), "half written")
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(staged.getFileName.toString.endsWith(s".tmp-${ProcessHandle.current.pid}"))
      assert(entries(staged.getParent).isEmpty)
    }
  }

  test("a build of subdirectories gets a root _SUCCESS, and a second call reuses it") {
    withStore { (kind, src) =>
      var runs = 0
      def ensure() = Artifacts.ensureArtifact(kind, src.toString, "documents", "|k") { st =>
        runs += 1
        Seq("a", "b").foreach { t =>
          Files.createDirectories(st.resolve(t))
          Files.writeString(st.resolve(t).resolve("part-0"), t)
        }
      }
      val p = ensure()
      assert(entries(p) == Set("a", "b", "_SUCCESS"))
      assert(ensure() == p)
      assert(runs == 1)
    }
  }

  test("a rewritten source table maps to a new artifact path") {
    withStore { (kind, src) =>
      val doc = src.resolve("documents.parquet")
      def ensure() = Artifacts.ensureArtifact(kind, src.toString, "documents", "|k") { st =>
        Files.createDirectories(st)
      }
      val first = ensure()
      assert(ensure() == first)
      Files.writeString(doc, "v22") // new size
      val resized = ensure()
      val mtime = Files.getLastModifiedTime(doc).toMillis
      Files.setLastModifiedTime(doc, FileTime.fromMillis(mtime + 60000)) // same size
      val touched = ensure()
      assert(Set(first, resized, touched).size == 3)
      assert(Set(first, resized, touched).forall(p => Files.exists(p.resolve("_SUCCESS"))))
    }
  }
}
