package graft

import java.nio.file.{Path, Paths}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** One owner for a suite's temp dirs: every dir from [[tempDir]] is deleted
  * in `afterAll`. A suite that overrides `afterAll` calls `super.afterAll()`
  * last, so the dirs go after its Spark session or log has stopped. */
trait SuiteTempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new TempDirs

  protected def tempDir(prefix: String): Path = Paths.get(dirs.create(prefix))

  override def afterAll(): Unit = try super.afterAll() finally dirs.deleteAll()
}
