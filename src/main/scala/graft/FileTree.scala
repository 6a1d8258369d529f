package graft

import java.nio.file.{Files, Path}

/** Recursive delete of a scratch directory tree: the one copy that the
  * shutdown hooks, Verify's output cleanup and the dev mains share. */
object FileTree {

  /** Deletes `root` and everything under it, if it exists. The walk's
    * directory stream is closed even when a delete throws. */
  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Deletes `root` at JVM exit; returns `root`. */
  def deleteAtExit(root: Path): Path = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => delete(root)))
    root
  }
}
