package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs that live as long as the suite: `tmpDir(prefix)` creates one
  * under `java.io.tmpdir`, and `afterAll` deletes every one, contents
  * included. A suite that overrides `afterAll` calls `super.afterAll()`.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new ConcurrentLinkedQueue[Path]()

  def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally dirs.forEach { d =>
      if (Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      }
    }
}
