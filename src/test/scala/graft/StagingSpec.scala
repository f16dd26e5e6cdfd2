package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Staging

/** [[Staging.ensure]]'s cache discipline, with no Spark: the key
  * follows each source's path, size and mtime, the completion marker
  * is written last, and only a marked dir is reused. Each test stages
  * under its own tag over its own source file, and deletes what it
  * staged.
  */
class StagingSpec extends AnyFunSuite {

  private def withSource(body: (String, String) => Unit): Unit = {
    val srcDir = Files.createTempDirectory("graft_staging_spec_")
    val src = srcDir.resolve("t.parquet")
    Files.write(src, Array[Byte](1, 2, 3))
    val tag = s"spec_${java.util.UUID.randomUUID().toString.take(8)}"
    try body(tag, src.toString)
    finally {
      Staging.deleteTree(srcDir.toString)
      Option(new java.io.File(System.getProperty("java.io.tmpdir"))
        .listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"graft_stage_$tag"))
        .foreach(f => Staging.deleteTree(f.toString))
    }
  }

  /** ensure, counting `write` calls; the writer leaves one file. */
  private def stage(tag: String, src: String, calls: Array[Int]): Path =
    Paths.get(Staging.ensure(tag, src) { dir =>
      calls(0) += 1
      Files.write(Paths.get(dir, "part-0"), Array[Byte](calls(0).toByte))
    })

  test("a marked dir is reused without calling write") {
    withSource { (tag, src) =>
      val calls = Array(0)
      val a = stage(tag, src, calls)
      val b = stage(tag, src, calls)
      assert(a == b && calls(0) == 1)
      assert(Files.exists(a.resolve("_GRAFT_STAGED")))
      assert(Files.readAllBytes(a.resolve("part-0")).toSeq == Seq(1.toByte))
    }
  }

  test("an unmarked dir is restaged from scratch") {
    withSource { (tag, src) =>
      val calls = Array(0)
      val dir = stage(tag, src, calls)
      // a JVM that died mid-write: partial output, no marker
      Files.delete(dir.resolve("_GRAFT_STAGED"))
      Files.write(dir.resolve("part-stale"), Array[Byte](9))
      assert(stage(tag, src, calls) == dir && calls(0) == 2)
      assert(Files.exists(dir.resolve("_GRAFT_STAGED")))
      assert(!Files.exists(dir.resolve("part-stale")))
    }
  }

  test("a source whose size or mtime changed is restaged under a new key") {
    withSource { (tag, src) =>
      val calls = Array(0)
      val first = stage(tag, src, calls)
      val p = Paths.get(src)
      Files.write(p, Array[Byte](1, 2, 3, 4)) // size changed
      val bySize = stage(tag, src, calls)
      assert(bySize != first && calls(0) == 2)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
        .fromMillis(Files.getLastModifiedTime(p).toMillis - 60000L))
      val byMtime = stage(tag, src, calls) // same size, older mtime
      assert(byMtime != bySize && byMtime != first && calls(0) == 3)
      // the key is the tag plus the sources: another tag over the same
      // source is another dir
      val calls2 = Array(0)
      assert(stage(s"${tag}b", src, calls2) != byMtime && calls2(0) == 1)
    }
  }

  test("a write that throws leaves no marker, and the next call stages again") {
    withSource { (tag, src) =>
      var partial: Path = null
      val err = intercept[IllegalStateException] {
        Staging.ensure(tag, src) { dir =>
          partial = Paths.get(dir)
          Files.write(partial.resolve("part-0"), Array[Byte](0))
          throw new IllegalStateException("died mid-write")
        }
      }
      assert(err.getMessage == "died mid-write")
      assert(Files.exists(partial.resolve("part-0")))
      assert(!Files.exists(partial.resolve("_GRAFT_STAGED")))
      val calls = Array(0)
      assert(stage(tag, src, calls) == partial && calls(0) == 1)
      assert(Files.exists(partial.resolve("_GRAFT_STAGED")))
    }
  }

  test("a restage deletes this tag's dir over the same sources at an older stamp; dirs over other sources stay") {
    withSource { (tag, src) =>
      // the same file name under another root: another scale factor
      val otherDir = Files.createTempDirectory("graft_staging_spec_other_")
      val other = otherDir.resolve("t.parquet")
      Files.write(other, Array[Byte](7))
      try {
        val calls = Array(0)
        val old = stage(tag, src, calls)
        val kept = stage(tag, other.toString, calls)
        Files.write(Paths.get(src), Array[Byte](1, 2, 3, 4)) // new stamp
        val fresh = stage(tag, src, calls)
        assert(fresh != old && calls(0) == 3)
        assert(!Files.exists(old), "the older stamp's dir must be deleted")
        assert(Files.exists(kept.resolve("_GRAFT_STAGED")),
          "a dir over other sources must survive")
        assert(Files.exists(fresh.resolve("_GRAFT_STAGED")))
      } finally Staging.deleteTree(otherDir.toString)
    }
  }

  test("an empty marker is rewritten with the sources' paths on reuse, and a restage deletes this tag's dirs whose marker is empty") {
    withSource { (tag, src) =>
      val calls = Array(0)
      val dir = stage(tag, src, calls)
      // a marker written before markers held the sources' paths
      Files.write(dir.resolve("_GRAFT_STAGED"), Array.emptyByteArray)
      assert(stage(tag, src, calls) == dir && calls(0) == 1)
      assert(new String(Files.readAllBytes(dir.resolve("_GRAFT_STAGED")), "UTF-8") == src)
      // an orphan of this tag, over sources no marker names
      val orphan = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_stage_${tag}_0123456789abcdef")
      Files.createDirectories(orphan)
      Files.write(orphan.resolve("_GRAFT_STAGED"), Array.emptyByteArray)
      Files.write(Paths.get(src), Array[Byte](1, 2, 3, 4)) // new stamp
      val fresh = stage(tag, src, calls)
      assert(fresh != dir && calls(0) == 2)
      assert(!Files.exists(orphan), "a dir with an empty marker must be deleted on restage")
      assert(!Files.exists(dir), "the older stamp's dir must be deleted")
    }
  }
}
