package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` FileSystem whose `setPermission` is a java.nio call instead
  * of a forked `chmod` process.
  *
  * Hadoop's RawLocalFileSystem, absent libhadoop (the JNI library Spark
  * distributions do not bundle), applies permissions by shelling out:
  * every `create(path, permission, …)` and every `mkdirs` forks a chmod
  * — profiled at 5–15 ms of fork+exec per parquet file / directory
  * created, serialized on the writing task. A bench pass over the full
  * registry creates thousands of files (streaming sink batches, snapshot
  * store partitions, fixture layouts), so the forks are a measurable
  * fixed tax on every write-bearing operator. `setPermission` is the one
  * method both the file-create and the mkdir path dispatch through
  * (LocalFSFileOutputStream's constructor and mkOneDirWithMode both call
  * the instance method), so a single NIO override removes every fork
  * while APPLYING the same permissions — behavior, including the
  * effective mode bits, is unchanged.
  *
  * Opt-in via `spark.hadoop.fs.file.impl=graft.sources.NioLocalFileSystem`
  * ([[graft.Harness.session]] sets it); deployments whose local FS interaction is
  * incidental can keep the Hadoop default. Sticky/setuid bits — which
  * PosixFilePermission cannot express — fall back to the Hadoop path;
  * no Spark-created file uses them. */
class NioLocalFileSystem extends LocalFileSystem(new NioChmodRawLocalFs)

private[sources] class NioChmodRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val bits = perm.toShort.toInt
    if ((bits & ~0x1ff) != 0) { // sticky/setuid/setgid: not expressible in NIO
      super.setPermission(p, perm)
      return
    }
    val order = Array(
      OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
      GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
      OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    var i = 0
    while (i < 9) {
      if ((bits & (1 << (8 - i))) != 0) set.add(order(i))
      i += 1
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, set)
  }
}
