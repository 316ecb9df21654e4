package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

/** One owner for a component's temp dirs: it deletes every dir it created
  * on [[deleteAll]], and at JVM exit at the latest. */
private[graft] final class TempDirs {
  private val dirs = ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook(deleteAll())

  def create(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    dirs.add(dir)
    dir
  }

  def deleteAll(): Unit = {
    val it = dirs.iterator()
    while (it.hasNext) { val dir = it.next(); it.remove(); TempDirs.delete(new File(dir)) }
  }
}

private[graft] object TempDirs {
  /** Run `body` with a fresh owner, whose dirs are deleted when `body`
    * returns, on failure too. */
  def using[T](body: TempDirs => T): T = {
    val dirs = new TempDirs
    try body(dirs) finally dirs.deleteAll()
  }

  /** Recursive delete that does not follow symlinks; a missing path is a no-op. */
  def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath)) {
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    }
    f.delete()
  }

  /** Spark's committer writes `_SUCCESS` into an output dir only after
    * every task committed: its absence marks a torn or lost write. */
  def committed(dir: String): Boolean = Files.exists(Paths.get(dir, "_SUCCESS"))
}
