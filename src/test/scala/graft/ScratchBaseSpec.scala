package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** A SPARK_GRAFT_SCRATCH override is used or rejected, never silently
  * replaced by the tmpfs fallback; without one, tmpfs is used only
  * when it has room. */
class ScratchBaseSpec extends AnyFunSuite {

  test("scratch override: a regular file fails naming the path; a " +
    "missing but creatable directory is created and used") {
    val root = Files.createTempDirectory("graft_scratch")
    try {
      val file = Files.createFile(root.resolve("not-a-dir")).toString
      val e = intercept[IllegalArgumentException](
        Queries.scratchBaseFor(Some(file), 0L))
      assert(e.getMessage.contains(file))

      val dir = root.resolve("made/here").toString
      assert(Queries.scratchBaseFor(Some(dir), 0L) == dir)
      assert(new java.io.File(dir).isDirectory)
    } finally {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("no override: /dev/shm only when it has MinShmBytes usable") {
    val tmpdir = sys.props("java.io.tmpdir")
    assert(Queries.scratchBaseFor(None, 64L << 20) == tmpdir)
    assert(Queries.scratchBaseFor(None, 0L) == tmpdir)
    assert(Queries.scratchBaseFor(None, 16L << 30) == "/dev/shm")
    assert(Queries.scratchBaseFor(None, Queries.MinShmBytes) == "/dev/shm")
    assert(Queries.scratchBaseFor(None, Queries.MinShmBytes - 1) == tmpdir)
  }
}
