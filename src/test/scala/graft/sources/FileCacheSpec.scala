package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class FileCacheSpec extends AnyFunSuite {
  private def desc(ts: Long, id: String = "m") = QueueMessageDesc(ts, isProcessed = false, id)

  test("isPending / addIfAbsent: the first insert wins") {
    val c = new FileCache(1000L)
    assert(!c.isPending("a"))
    assert(c.addIfAbsent("a", desc(10)))
    assert(!c.addIfAbsent("a", desc(11))) // lost race
    assert(c.isPending("a"))
    assert(c.getUnprocessedFiles(None).map(_.timestampMs) == Seq(10L))
  }

  test("latestTimestamp is monotonic; purge horizon derives from it") {
    val c = new FileCache(100L)
    c.addIfAbsent("a", desc(1000))
    c.addIfAbsent("b", desc(500)) // older arrival does not move the mark back
    assert(c.lastPurgeTimestamp == 900)
    assert(c.isExpired(899) && !c.isExpired(900))
  }

  test("getUnprocessedFiles: limit, sort mode, skips processed + expired") {
    val c = new FileCache(1000L)
    c.addIfAbsent("f2", desc(300)); c.addIfAbsent("f3", desc(200))
    c.addIfAbsent("f1", desc(100)); c.addIfAbsent("e3", desc(200))
    assert(c.getUnprocessedFiles(None).map(_.filePath) == Seq("f1", "e3", "f3", "f2"))
    assert(c.getUnprocessedFiles(Some(2)).map(_.filePath) == Seq("f1", "e3"))
    c.markProcessed("e3")
    assert(c.getUnprocessedFiles(Some(2)).map(_.filePath) == Seq("f1", "f3"))
    // a much newer file moves the horizon (1000) past every older one
    c.addIfAbsent("f9", desc(2000))
    assert(c.getUnprocessedFiles(Some(1)).map(_.filePath) == Seq("f9"))
    c.addIfAbsent("f8", desc(1500))
    assert(c.getUnprocessedFiles(None).map(_.filePath) == Seq("f8", "f9"))
  }

  test("markProcessed removes the file; the path may be inserted again") {
    val c = new FileCache(1000L)
    c.addIfAbsent("a", desc(10)); c.addIfAbsent("b", desc(20))
    c.markProcessed("a")
    c.markProcessed("never-added") // no-op
    assert(!c.isPending("a") && c.size == 1)
    assert(c.getUnprocessedFiles(None).map(_.filePath) == Seq("b"))
    assert(c.addIfAbsent("a", desc(30)))
    assert(c.getUnprocessedFiles(None).map(_.filePath) == Seq("b", "a"))
  }

  test("purge evicts expired entries and reports the count") {
    val c = new FileCache(100L)
    c.addIfAbsent("old1", desc(1)); c.addIfAbsent("old2", desc(2))
    c.addIfAbsent("new", desc(1000))
    assert(c.purge() == 2)
    assert(c.size == 1 && c.isPending("new") && !c.isPending("old1"))
    assert(c.purge() == 0)
  }
}
