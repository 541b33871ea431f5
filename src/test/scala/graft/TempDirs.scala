package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs for a suite's fixtures, stages and checkpoints: each one
  * [[tempDir]] makes is deleted after the suite's last test, whether its
  * tests passed or not. A dir needed by one block only goes through
  * [[TempDirs.withTempDir]]. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A new empty dir under `java.io.tmpdir`, deleted in `afterAll`. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => graft.streaming.Replay.rmrf(d))
}

object TempDirs {
  /** Runs `body` on a new empty temp dir and deletes the dir afterwards,
    * also when `body` throws. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally graft.streaming.Replay.rmrf(dir)
  }
}
