package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import scala.collection.mutable.ArrayBuffer
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories a suite creates through [[tempDir]] are deleted,
  * with their contents, once the suite ends. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = ArrayBuffer.empty[Path]

  def tempDir(prefix: String): String = dirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    dirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try dirs.synchronized(dirs.foreach { d =>
      val paths = Files.walk(d)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally paths.close()
    })
    finally super.afterAll()
}
