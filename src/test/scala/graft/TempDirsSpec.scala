package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class TempDirsSpec extends AnyFunSuite {
  test("deleteAll removes every created tree and only those; symlinks are not followed") {
    val outside = Files.createTempDirectory("graft-tempdirs-outside")
    Files.write(outside.resolve("keep"), Array[Byte](1))
    val dirs = new TempDirs
    val a = dirs.create("graft-tempdirs-a")
    val b = dirs.create("graft-tempdirs-b")
    Files.createDirectories(Paths.get(a, "x", "y"))
    Files.write(Paths.get(a, "x", "y", "f"), Array[Byte](1))
    Files.createSymbolicLink(Paths.get(b, "link"), outside)
    dirs.deleteAll()
    assert(!new File(a).exists() && !new File(b).exists())
    assert(Files.exists(outside.resolve("keep")), "a symlinked dir's contents must survive")
    dirs.deleteAll() // idempotent
    TempDirs.delete(outside.toFile)
    assert(!Files.exists(outside))
  }

  test("committed reads Spark's _SUCCESS marker") {
    val dirs = new TempDirs
    val d = dirs.create("graft-tempdirs-commit")
    assert(!TempDirs.committed(d))
    Files.write(Paths.get(d, "_SUCCESS"), Array.emptyByteArray)
    assert(TempDirs.committed(d))
    dirs.deleteAll()
  }
}
