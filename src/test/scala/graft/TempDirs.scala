package graft

import java.nio.file.{Files, Path}

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Spec temporary directories that delete themselves: [[tempDir]]
  * makes a fresh directory under the system temp root, and every
  * directory a test made is deleted, contents and all, when that test
  * ends, whether it passed or failed. */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made.add(dir)
    dir
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally while (!made.isEmpty) RunScratch.deleteTree(made.poll())
}
